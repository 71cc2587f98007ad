package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TermsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat"),
    (3L, "cat cat cat"),
    (4L, ""))            // empty doc: no term rows, still counts in n_docs
    .toDF("doc_id", "text")

  test("termFrequencies counts normalized whitespace tokens per doc") {
    val tf = Terms.termFrequencies(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(tf((1L, "the")) == 2L)
    assert(tf((1L, "cat")) == 1L)
    assert(tf((3L, "cat")) == 3L)
    assert(!tf.keySet.exists(_._1 == 4L)) // empty doc contributes nothing
  }

  test("tfIdfTopTerms ranks rarer terms above common ones") {
    // n_docs = 4. "the" df=2, "cat" df=2, "sat" df=2, "mat"/"on"/"dog" df=1.
    val top = Terms.tfIdfTopTerms(docs, "doc_id", "text", 2)
      .select(col("doc_id"), col("term"), col("tf_idf"), col("rnk"))
      .as[(Long, String, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    // doc1: "the" tf=2 df=2 -> 4.0; mat/on tf=1 df=1 -> 4.0; cat/sat 2.0.
    // ties at 4.0 break by term asc: mat < on < the
    assert(top(1L) == Seq("mat", "on"))
    // doc2: dog tf=1 df=1 -> 4.0 beats sat/the (2.0; tie -> sat)
    assert(top(2L) == Seq("dog", "sat"))
    // doc3: cat tf=3 df=2 -> 6.0, only term
    assert(top(3L) == Seq("cat"))
    // scores: linear idf = tf * n_docs / df
    val s = Terms.tfIdfTopTerms(docs, "doc_id", "text", 2)
      .filter(col("doc_id") === 3L).select(col("tf_idf"))
      .as[Double].collect().toSeq
    assert(s == Seq(3.0 * 4.0 / 2.0))
  }

  test("vocabulary returns top-k by total count with doc counts") {
    val v = Terms.vocabulary(docs, "doc_id", "text", 3)
      .as[(String, Long, Long)].collect().toSeq
    // cat: 4 occurrences in 2 docs; the: 3 in 2; sat: 2 in 2
    assert(v == Seq(("cat", 4L, 2L), ("the", 3L, 2L), ("sat", 2L, 2L)))
  }

  test("mixturePlan computes capped keep rates against the budget") {
    val corpus = Seq(
      ("a", 100L), ("a", 100L),   // stratum a: 200 tokens
      ("b", 50L),                 // stratum b: 50 tokens
      ("c", 10L))                 // stratum c: 10 tokens
      .toDF("source", "ntok")
    val plan = Terms.mixturePlan(corpus, "source", col("ntok"),
        Map("a" -> 0.5, "b" -> 0.25), defaultWeight = 0.25, budgetTokens = 200L)
      .select(col("stratum"), col("tokens"), col("keep_rate"), col("expected_tokens"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // a: target 100 of 200 -> rate 0.5, yields 100
    assert(plan("a") == (("a", 200L, 0.5, 100.0)))
    // b: target 50 of 50 -> rate 1.0
    assert(plan("b") == (("b", 50L, 1.0, 50.0)))
    // c: target 50 of 10 -> capped at 1.0, yields only 10 (shortfall visible)
    assert(plan("c") == (("c", 10L, 1.0, 10.0)))
  }

  test("bpePairCounts counts adjacent pairs; short docs contribute nothing") {
    val corpus = Seq(
      (1L, "a b a b c"),   // pairs: (a b), (b a), (a b), (b c)
      (2L, "a b"),         // pair: (a b)
      (3L, "solo"),        // no pairs
      (4L, ""))            // no pairs
      .toDF("doc_id", "text")
    val got = Terms.bpePairCounts(corpus, "doc_id", "text", 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("histogram bins by floor(value/width) per key") {
    val df = Seq(("x", 0.0), ("x", 4.99), ("x", 5.0), ("x", -0.1), ("y", 12.0))
      .toDF("k", "v")
    val got = Relational.histogram(df, Seq(col("k")), col("v"), 5.0)
      .as[(String, Long, Long)].collect().toSet
    // -0.1 -> bin -1 (floor, not truncation toward zero)
    assert(got == Set(("x", 0L, 2L), ("x", 1L, 1L), ("x", -1L, 1L), ("y", 2L, 1L)))
  }

  test("movingAvg equals the hand-computed trailing mean with a short head") {
    val df = Seq((1L, 1L, 2.0), (1L, 2L, 4.0), (1L, 3L, 6.0), (1L, 4L, 8.0),
      (2L, 5L, 10.0))
      .toDF("user_id", "event_id", "v")
    val got = Relational.movingAvg(df, Seq(col("user_id")), Seq(col("event_id")),
        col("v"), 3)
      .select(col("event_id"), col("moving_avg"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 2.0, 2L -> 3.0, 3L -> 4.0, 4L -> 6.0, 5L -> 10.0))
  }

  test("bigramCondProb averages corpus P(w2|w1) per doc; short docs absent") {
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    // corpus bigrams: doc1 (a,b) (b,a) (a,b); doc2 (a,c)
    // c(a,.) = 3, c(b,.) = 1 -> P(b|a) = 2/3, P(a|b) = 1, P(c|a) = 1/3
    val got = Terms.bigramCondProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3L)
    assert(math.abs(got(1L)._3 - math.rint((2.0 / 3 + 1.0 + 2.0 / 3) / 3 * 1e6) / 1e6) < 1e-12)
    assert(got(2L)._2 == 1L)
    assert(math.abs(got(2L)._3 - math.rint(1.0 / 3 * 1e6) / 1e6) < 1e-12)
    assert(!got.contains(3L)) // one token: no bigrams
  }

  test("quantizeInt8 round-trips within half a scale step and saturates at 127") {
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // all-zero: scale 0, codes 0
      .toDF("vec_id", "embedding")
    val out = vecs
      .withColumn("scale", VectorOps.int8Scale(col("embedding")))
      .withColumn("codes", VectorOps.quantizeInt8(col("embedding"), col("scale")))
      .withColumn("max_err",
        VectorOps.dequantMaxErr(col("embedding"), col("codes"), col("scale")))
      .select(col("vec_id"), col("scale"), col("codes"), col("max_err"))
      .as[(Long, Double, Seq[Int], Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, scale1, codes1, err1) = out(1L)
    assert(scale1 == 1.0 / 127.0)
    assert(codes1 == Seq(127, -63, 32, 0)) // -0.5/scale = -63.5 -> floor(-63.0) = -63
    assert(err1 <= scale1 / 2 + 1e-12)
    // all-zero vector: no divide-by-zero, all-zero codes, zero error
    assert(out(2L) == ((2L, 0.0, Seq(0, 0, 0, 0), 0.0)))
  }

  test("searchDocs returns exactly the docs containing every query term") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),       // cat + mat
      (2L, "a cat and a dog"),              // cat only
      (3L, "MAT! cat, mat cat"),            // both (case/punct-normalized, dups)
      (4L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val hits = Terms.searchDocs(corpus, "doc_id", "text", Seq("cat", "mat"))
      .as[Long].collect().toSet
    assert(hits == Set(1L, 3L))
    // non-normalized query terms can never match: fail fast, not empty-result
    val e = intercept[IllegalArgumentException] {
      Terms.searchDocs(corpus, "doc_id", "text", Seq("Cat"))
    }
    assert(e.getMessage.contains("normalized"))
  }

  test("bpeTrain reproduces the hand-computed merge sequence (Sennrich corpus)") {
    // low x5, lower x2, newest x6, widest x3 — pair counts: (e,s)=9 ties
    // (s,t)=9 -> lexicographic pick (e,s); then (es,t)=9; then (l,o)=7
    // ties (o,w)=7 -> (l,o); then (lo,w)=7
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Terms.bpeTrain(corpus, "text", numMerges = 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))

    // applying the rules tokenizes an UNSEEN word with the learned units
    val toks = Seq((1L, "lowest newest")).toDF("doc_id", "text")
      .select(Terms.bpeApply(col("text"), merges).as("t"))
      .as[Seq[String]].head()
    assert(toks == Seq("low", "est", "n", "e", "w", "est"))
  }

  test("bm25Search ranks by the hand-computed rational-idf BM25") {
    // N=4, avgdl=(4+3+3+0)/4=2.5; df: vector=2, join=1, filter=1
    // idf(vector)=2.0, idf(join)=idf(filter)=10/3
    // doc1 len-norm 1.2*(0.25+0.75*4/2.5)=1.74:
    //   2*2*2.2/3.74 + 2*(10/3)*2.2/2.74 = 7.705739 (6dp)
    // doc2 len-norm 1.38: 2*2.2/2.38 = 1.848739
    val docs = Seq(
      (1L, "Vector JOIN filter vector!"),  // normalization folds case/punct
      (2L, "vector apple banana"),
      (3L, "apple banana cherry"),
      (4L, ""))                            // dl=0 still counts toward avgdl
      .toDF("doc_id", "text")
    val out = Terms.bm25Search(docs, "doc_id", "text",
        Seq("vector", "join", "filter"), k = 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 7.705739, 1L), (2L, 1L, 1.848739, 2L)))
    // top-k truncation keeps the best-scoring doc
    val top1 = Terms.bm25Search(docs, "doc_id", "text",
        Seq("vector", "join", "filter"), k = 1)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(top1 == Seq((1L, 3L, 7.705739, 1L)))
    // RRF fusion with a second (vector-side) ranking: hand-check
    // 1/(60+rank) sums — doc 1 in both lists, doc 2 keyword-only, doc 9
    // vector-only
    val vecList = Seq((9L, 1L), (1L, 2L)).toDF("id", "rnk")
    val kwList = out.map(r => (r._1, r._4)).toDF("id", "rnk")
    val fused = Similarity.rrfFuse(Seq(kwList, vecList), "id", "rnk", k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val r1 = BigDecimal(1.0 / 61 + 1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r9 = BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r2 = BigDecimal(1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fused == Seq((1L, 2L, r1), (9L, 1L, r9), (2L, 1L, r2)))
    // no matching docs -> empty, not an error
    assert(Terms.bm25Search(docs, "doc_id", "text", Seq("zzz"), k = 5)
      .collect().isEmpty)
    // un-normalized query terms are rejected loudly
    val e = intercept[IllegalArgumentException] {
      Terms.bm25Search(docs, "doc_id", "text", Seq("Vector"), k = 5)
    }
    assert(e.getMessage.contains("normalized"))
  }

  test("bm25 store path equals the live path and bucket-prunes the postings scan") {
    val docs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (3L, "apple banana cherry"),
      (4L, ""))
      .toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS tst_bm25")
    spark.sql("DROP TABLE IF EXISTS tst_bm25_stats")
    Terms.writeBm25Store(docs, "doc_id", "text", "tst_bm25", numBuckets = 8)
    for (q <- Seq(Seq("vector", "join", "filter"), Seq("apple"), Seq("zzz"))) {
      val live = Terms.bm25Search(docs, "doc_id", "text", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
      val stored = Terms.bm25SearchFromStore(spark, "tst_bm25", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(stored == live, s"terms=$q")
    }
    // the isin probe prunes the bucketed scan to the query terms' buckets
    val p = Terms.bm25SearchFromStore(spark, "tst_bm25", Seq("apple"), k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"), s"postings scan must bucket-prune:\n$p")
    spark.sql("DROP TABLE tst_bm25")
    spark.sql("DROP TABLE tst_bm25_stats")
  }

  test("bm25 store append equals a full rebuild over old union new") {
    val oldDocs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (4L, "")).toDF("doc_id", "text")
    val newDocs = Seq(
      (3L, "apple banana cherry"),
      (5L, "filter apple vector cherry words")).toDF("doc_id", "text")
    for (t <- Seq("tst_bm25_inc", "tst_bm25_inc_stats",
                  "tst_bm25_all", "tst_bm25_all_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    Terms.writeBm25Store(oldDocs, "doc_id", "text", "tst_bm25_inc", numBuckets = 8)
    Terms.appendToBm25Store(newDocs, "doc_id", "text", "tst_bm25_inc", numBuckets = 8)
    Terms.writeBm25Store(oldDocs.unionByName(newDocs), "doc_id", "text",
      "tst_bm25_all", numBuckets = 8)
    for (q <- Seq(Seq("vector", "filter"), Seq("apple"), Seq("cherry"))) {
      val inc = Terms.bm25SearchFromStore(spark, "tst_bm25_inc", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
      val reb = Terms.bm25SearchFromStore(spark, "tst_bm25_all", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(inc == reb, s"terms=$q")
    }
    for (t <- Seq("tst_bm25_inc", "tst_bm25_inc_stats",
                  "tst_bm25_all", "tst_bm25_all_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bm25 batch search equals the single-query store path per query") {
    val docs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (3L, "apple banana cherry"),
      (4L, "")).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS tst_bm25_b")
    spark.sql("DROP TABLE IF EXISTS tst_bm25_b_stats")
    Terms.writeBm25Store(docs, "doc_id", "text", "tst_bm25_b", numBuckets = 8)
    val sets = Map(0L -> Seq("vector", "join", "filter"),
      1L -> Seq("apple"), 2L -> Seq("zzz"), 3L -> Seq("cherry", "banana"))
    val workload = sets.toSeq
      .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
    val batch = Terms.bm25BatchSearchFromStore(spark, "tst_bm25_b", workload, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._3)).toMap
    for ((qid, ts) <- sets) {
      val single = Terms.bm25SearchFromStore(spark, "tst_bm25_b", ts, k = 10)
        .as[(Long, Long, Double, Long)].collect()
        .map(r => (r._1, r._3, r._4)).sortBy(_._3).toSeq
      assert(batch.get(qid).map(_.toSeq).getOrElse(Seq.empty) == single,
        s"query $qid")
    }
    spark.sql("DROP TABLE tst_bm25_b")
    spark.sql("DROP TABLE tst_bm25_b_stats")
  }

  test("bm25 delta log: base+deltas equals rebuild; replay idempotent; compaction folds") {
    val base = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (4L, "")).toDF("doc_id", "text")
    val b0 = Seq((3L, "apple banana cherry")).toDF("doc_id", "text")
    val b1 = Seq((5L, "filter apple vector cherry words")).toDF("doc_id", "text")
    val delta = java.nio.file.Files.createTempDirectory("bm25_delta").toString
    for (t <- Seq("tst_bm25_lsm", "tst_bm25_lsm_stats",
                  "tst_bm25_reb", "tst_bm25_reb_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    Terms.writeBm25Store(base, "doc_id", "text", "tst_bm25_lsm", numBuckets = 8)
    Terms.writeBm25DeltaBatch(b0, "doc_id", "text", delta, 0L)
    Terms.writeBm25DeltaBatch(b1, "doc_id", "text", delta, 1L)
    Terms.writeBm25Store(base.unionByName(b0).unionByName(b1), "doc_id", "text",
      "tst_bm25_reb", numBuckets = 8)
    def lsm(q: Seq[String]) =
      Terms.bm25SearchWithDeltas(spark, "tst_bm25_lsm", delta, q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
    def reb(q: Seq[String]) =
      Terms.bm25SearchFromStore(spark, "tst_bm25_reb", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
    val queriesToCheck = Seq(Seq("vector", "filter"), Seq("cherry"), Seq("zzz"))
    for (q <- queriesToCheck) assert(lsm(q) == reb(q), s"terms=$q")
    // replay of the latest batch rewrites identical content (overwrite)
    Terms.writeBm25DeltaBatch(b1, "doc_id", "text", delta, 1L)
    for (q <- queriesToCheck) assert(lsm(q) == reb(q), s"replay terms=$q")
    // compaction folds committed batches into the base and clears the log
    assert(Terms.compactBm25Delta(spark, "tst_bm25_lsm", delta,
      numBuckets = 8, maxBatchExclusive = 2L) == 2)
    for (q <- queriesToCheck) {
      assert(lsm(q) == reb(q), s"post-compaction terms=$q")
      assert(Terms.bm25SearchFromStore(spark, "tst_bm25_lsm", q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq == reb(q),
        s"compacted base alone terms=$q")
    }
    // nothing left to fold
    assert(Terms.compactBm25Delta(spark, "tst_bm25_lsm", delta,
      numBuckets = 8, maxBatchExclusive = 10L) == 0)
    for (t <- Seq("tst_bm25_lsm", "tst_bm25_lsm_stats",
                  "tst_bm25_reb", "tst_bm25_reb_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming BM25 delta sink feeds the index; queries equal a rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Seq((1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana")).toDF("doc_id", "text")
    val delta = java.nio.file.Files.createTempDirectory("bm25_sink").toString
    for (t <- Seq("tst_bm25_str", "tst_bm25_str_stats",
                  "tst_bm25_str_reb", "tst_bm25_str_reb_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    Terms.writeBm25Store(base, "doc_id", "text", "tst_bm25_str", numBuckets = 8)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Terms.writeBm25DeltaBatch(b, "doc_id", "text", delta, id) }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("bm25_ckpt").toString)
      .start()
    in.addData((3L, "apple banana cherry"))
    q.processAllAvailable()
    in.addData((5L, "filter apple vector cherry words"))
    q.processAllAvailable()
    q.stop()
    Terms.writeBm25Store(
      base.unionByName(Seq((3L, "apple banana cherry"),
        (5L, "filter apple vector cherry words")).toDF("doc_id", "text")),
      "doc_id", "text", "tst_bm25_str_reb", numBuckets = 8)
    for (qs <- Seq(Seq("vector", "filter"), Seq("cherry"))) {
      val streamed = Terms.bm25SearchWithDeltas(spark, "tst_bm25_str", delta,
        qs, k = 10).as[(Long, Long, Double, Long)].collect().toSeq
      val rebuilt = Terms.bm25SearchFromStore(spark, "tst_bm25_str_reb",
        qs, k = 10).as[(Long, Long, Double, Long)].collect().toSeq
      assert(streamed == rebuilt, s"terms=$qs")
    }
    for (t <- Seq("tst_bm25_str", "tst_bm25_str_stats",
                  "tst_bm25_str_reb", "tst_bm25_str_reb_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bpeTrain stops early when no pairs remain and guards the vocab collect") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // only one distinct word "ab": first merge (a,b) consumes the only
    // pair; the loop must stop rather than run all requested merges
    assert(Terms.bpeTrain(tiny, "text", numMerges = 10) == Seq(("a", "b")))
    val e = intercept[IllegalArgumentException] {
      Terms.bpeTrain(docs, "text", numMerges = 2, maxWords = 3)
    }
    assert(e.getMessage.contains("maxWords"))
  }

  private def searchRows(table: String, q: Seq[String]): Seq[(Long, Long, Double, Long)] =
    Terms.bm25SearchFromStore(spark, table, q, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSeq

  test("bm25 tombstone deletion equals a rebuild over the surviving corpus") {
    val docs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (3L, "apple banana cherry"),
      (4L, ""),                 // zero-token doc: no postings, still in n_docs
      (5L, "filter apple vector cherry words"),
      (6L, "banana words vector")).toDF("doc_id", "text")
    Terms.dropBm25Store(spark, "tst_bm25_del")
    Terms.dropBm25Store(spark, "tst_bm25_del_reb")
    Terms.writeBm25Store(docs, "doc_id", "text", "tst_bm25_del", numBuckets = 8)
    // batch 1: a content doc, the zero-token doc, and a never-indexed id
    // (ignored); batch 2 OVERLAPS batch 1 on doc 2 — the already-tombstoned
    // exclusion must keep the stats adjustment exact
    assert(Terms.tombstoneBm25Docs("tst_bm25_del",
      Seq(2L, 4L, 99L).toDF("doc_id"), "doc_id", batchId = 1L) == 2L)
    assert(Terms.tombstoneBm25Docs("tst_bm25_del",
      Seq(2L, 6L).toDF("doc_id"), "doc_id", batchId = 2L) == 1L)
    Terms.writeBm25Store(docs.filter(!col("doc_id").isin(2L, 4L, 6L)),
      "doc_id", "text", "tst_bm25_del_reb", numBuckets = 8)
    val qs = Seq(Seq("vector", "filter"), Seq("apple"), Seq("banana"), Seq("zzz"))
    for (q <- qs)
      assert(searchRows("tst_bm25_del", q) == searchRows("tst_bm25_del_reb", q),
        s"terms=$q")
    // batch serving path sees the same deletions
    val workload = Seq((0L, "vector"), (0L, "filter"), (1L, "banana"))
      .toDF("query_id", "term")
    val batch = Terms.bm25BatchSearchFromStore(spark, "tst_bm25_del", workload, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq).toMap
    for ((qid, ts) <- Seq(0L -> Seq("vector", "filter"), 1L -> Seq("banana")))
      assert(batch(qid) ==
        searchRows("tst_bm25_del_reb", ts).map(r => (r._1, r._3, r._4)),
        s"batch query $qid")
    // replaying delete batch 2 rewrites identical artifacts — no double-subtract
    assert(Terms.tombstoneBm25Docs("tst_bm25_del",
      Seq(2L, 6L).toDF("doc_id"), "doc_id", batchId = 2L) == 1L)
    for (q <- qs)
      assert(searchRows("tst_bm25_del", q) == searchRows("tst_bm25_del_reb", q),
        s"post-replay terms=$q")
    // the tombstone anti-join must not break bucket pruning: the isin
    // probe sits below the join, so the postings scan stays pruned
    val plan = Terms.bm25SearchFromStore(spark, "tst_bm25_del",
      Seq("banana"), k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"post-delete probe must stay bucket-pruned:\n$plan")
    // full compaction rewrites the survivors and clears deletion state
    Terms.compactBm25Store(spark, "tst_bm25_del", "tst_bm25_del_v2", numBuckets = 8)
    for (q <- qs)
      assert(searchRows("tst_bm25_del_v2", q) == searchRows("tst_bm25_del_reb", q),
        s"post-compaction terms=$q")
    assert(graft.ops.Stores.tombstoneCount(spark, "tst_bm25_del_v2") == 0L)
    Terms.dropBm25Store(spark, "tst_bm25_del_v2")
    Terms.dropBm25Store(spark, "tst_bm25_del_reb")
  }

  test("bm25 tombstones reach docs living only in the uncompacted delta log") {
    val base = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana")).toDF("doc_id", "text")
    val b0 = Seq((3L, "apple banana cherry")).toDF("doc_id", "text")
    val b1 = Seq((5L, "filter apple vector cherry words")).toDF("doc_id", "text")
    val delta = java.nio.file.Files.createTempDirectory("bm25_deltadel").toString
    Terms.dropBm25Store(spark, "tst_bm25_dd")
    Terms.dropBm25Store(spark, "tst_bm25_dd_reb")
    Terms.writeBm25Store(base, "doc_id", "text", "tst_bm25_dd", numBuckets = 8)
    Terms.writeBm25DeltaBatch(b0, "doc_id", "text", delta, 0L)
    Terms.writeBm25DeltaBatch(b1, "doc_id", "text", delta, 1L)
    // doc 3 exists ONLY in delta batch 0; doc 2 in the base
    assert(Terms.tombstoneBm25Docs("tst_bm25_dd",
      Seq(3L, 2L).toDF("doc_id"), "doc_id", batchId = 1L,
      deltaPath = Some(delta)) == 2L)
    Terms.writeBm25Store(base.filter(col("doc_id") =!= 2L).unionByName(b1),
      "doc_id", "text", "tst_bm25_dd_reb", numBuckets = 8)
    def lsm(q: Seq[String]) =
      Terms.bm25SearchWithDeltas(spark, "tst_bm25_dd", delta, q, k = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq
    val qs = Seq(Seq("vector", "filter"), Seq("cherry"), Seq("apple"))
    for (q <- qs) assert(lsm(q) == searchRows("tst_bm25_dd_reb", q), s"terms=$q")
    // compaction folds the tombstoned doc's postings in; the tombstone
    // still hides it, so scores are unchanged
    assert(Terms.compactBm25Delta(spark, "tst_bm25_dd", delta,
      numBuckets = 8, maxBatchExclusive = 2L) == 2)
    for (q <- qs)
      assert(searchRows("tst_bm25_dd", q) == searchRows("tst_bm25_dd_reb", q),
        s"post-fold terms=$q")
    Terms.dropBm25Store(spark, "tst_bm25_dd")
    Terms.dropBm25Store(spark, "tst_bm25_dd_reb")
  }

  test("bm25 compaction folds exactly once under a crash at every step boundary") {
    val base = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (4L, "")).toDF("doc_id", "text")
    val b0 = Seq((3L, "apple banana cherry")).toDF("doc_id", "text")
    val b1 = Seq((5L, "filter apple vector cherry words")).toDF("doc_id", "text")
    Terms.dropBm25Store(spark, "tst_bm25_crr")
    Terms.writeBm25Store(base.unionByName(b0).unionByName(b1),
      "doc_id", "text", "tst_bm25_crr", numBuckets = 8)
    val qs = Seq(Seq("vector", "filter"), Seq("cherry"), Seq("apple"))
    for (step <- 1 to 3) {
      val t = s"tst_bm25_cr$step"
      val delta = java.nio.file.Files.createTempDirectory(s"bm25_crash$step").toString
      Terms.dropBm25Store(spark, t)
      Terms.writeBm25Store(base, "doc_id", "text", t, numBuckets = 8)
      Terms.writeBm25DeltaBatch(b0, "doc_id", "text", delta, 0L)
      Terms.writeBm25DeltaBatch(b1, "doc_id", "text", delta, 1L)
      val e = intercept[RuntimeException] {
        Terms.compactBm25DeltaImpl(spark, t, delta, numBuckets = 8,
          maxBatchExclusive = 2L, crashAfterStep = step)
      }
      assert(e.getMessage.contains(s"step $step"))
      // recovery is a plain re-run: every step is idempotent, so the fold
      // lands exactly once — scores equal the one-shot rebuild
      assert(Terms.compactBm25Delta(spark, t, delta,
        numBuckets = 8, maxBatchExclusive = 2L) == 2)
      for (q <- qs)
        assert(searchRows(t, q) == searchRows("tst_bm25_crr", q),
          s"step=$step terms=$q")
      // the registry/stats agree with a rebuild too (no silent drift)
      assert(spark.table(s"${t}_stats").as[(Long, Long)].head() ==
        spark.table("tst_bm25_crr_stats").as[(Long, Long)].head(), s"step=$step")
      assert(Terms.compactBm25Delta(spark, t, delta,
        numBuckets = 8, maxBatchExclusive = 10L) == 0, s"step=$step residue")
      Terms.dropBm25Store(spark, t)
    }
    Terms.dropBm25Store(spark, "tst_bm25_crr")
  }

  test("bm25 batch workload over base+deltas equals the single-query delta path") {
    val base = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (4L, "")).toDF("doc_id", "text")
    val b0 = Seq((3L, "apple banana cherry")).toDF("doc_id", "text")
    val delta = java.nio.file.Files.createTempDirectory("bm25_bd").toString
    Terms.dropBm25Store(spark, "tst_bm25_bd")
    Terms.writeBm25Store(base, "doc_id", "text", "tst_bm25_bd", numBuckets = 8)
    Terms.writeBm25DeltaBatch(b0, "doc_id", "text", delta, 0L)
    // also delete a doc so the batch+delta path sees tombstones
    assert(Terms.tombstoneBm25Docs("tst_bm25_bd",
      Seq(2L).toDF("doc_id"), "doc_id", batchId = 0L,
      deltaPath = Some(delta)) == 1L)
    val sets = Map(0L -> Seq("vector", "filter"), 1L -> Seq("apple"),
      2L -> Seq("cherry", "banana"))
    val workload = sets.toSeq
      .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
    val batch = Terms.bm25BatchSearchWithDeltas(spark, "tst_bm25_bd", delta,
        workload, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq).toMap
    for ((qid, ts) <- sets) {
      val single = Terms.bm25SearchWithDeltas(spark, "tst_bm25_bd", delta,
          ts, k = 10)
        .as[(Long, Long, Double, Long)].collect()
        .map(r => (r._1, r._3, r._4)).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"query $qid")
    }
    Terms.dropBm25Store(spark, "tst_bm25_bd")
  }

  test("streaming BM25 takedown sink removes docs from search within a batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (3L, "apple banana cherry"),
      (5L, "filter apple vector cherry words")).toDF("doc_id", "text")
    Terms.dropBm25Store(spark, "tst_bm25_sdel")
    Terms.dropBm25Store(spark, "tst_bm25_sdel_reb")
    Terms.writeBm25Store(docs, "doc_id", "text", "tst_bm25_sdel", numBuckets = 8)
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Terms.tombstoneBm25Docs("tst_bm25_sdel", b, "doc_id", id); () }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("bm25_sdel_ckpt").toString)
      .start()
    in.addData(2L)
    q.processAllAvailable()
    in.addData(5L)
    q.processAllAvailable()
    q.stop()
    Terms.writeBm25Store(docs.filter(!col("doc_id").isin(2L, 5L)),
      "doc_id", "text", "tst_bm25_sdel_reb", numBuckets = 8)
    for (ts <- Seq(Seq("vector", "filter"), Seq("apple"), Seq("cherry")))
      assert(searchRows("tst_bm25_sdel", ts) == searchRows("tst_bm25_sdel_reb", ts),
        s"terms=$ts")
    Terms.dropBm25Store(spark, "tst_bm25_sdel")
    Terms.dropBm25Store(spark, "tst_bm25_sdel_reb")
  }

  test("bm25 append/delta equivalence holds under adversarial batches") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val shared = Vector("vector", "join", "filter", "apple", "banana", "cherry")
    // adversarial shapes: empty batch, all-new-vocabulary batch, batch
    // whose terms all land in one bucket (single repeated term), plus
    // generated mixtures of shared/fresh vocabulary and empty docs
    val word: Gen[String] =
      Gen.frequency(4 -> Gen.oneOf(shared), 1 -> Gen.identifier.map("w" + _.take(6)))
    val doc: Gen[String] =
      Gen.frequency(6 -> Gen.nonEmptyListOf(word).map(_.mkString(" ")),
        1 -> Gen.const(""))
    val batchGen: Gen[List[String]] = Gen.listOfN(4, doc)
    val fixed = Seq(
      Seq.empty[String],                       // empty batch
      Seq("zzz qqq xxx", "qqq nnn"),           // all-new vocabulary
      Seq("vector vector vector", "vector"))   // single term -> one bucket
    val generated = (0 until 4).map(i =>
      batchGen.pureApply(Gen.Parameters.default.withSize(30), Seed(77L + i)).toSeq)
    val baseDocs = Seq(
      (1L, "Vector JOIN filter vector!"),
      (2L, "vector apple banana"),
      (4L, "")).toDF("doc_id", "text")
    val qs = Seq(Seq("vector", "filter"), Seq("zzz"), Seq("apple", "banana"))
    for ((texts, i) <- (fixed ++ generated).zipWithIndex) {
      val batch = texts.zipWithIndex
        .map { case (t, j) => (100L + j, t) }.toDF("doc_id", "text")
      val all = baseDocs.unionByName(batch)
      Terms.dropBm25Store(spark, "tst_bm25_adv")
      Terms.dropBm25Store(spark, "tst_bm25_adv_reb")
      Terms.writeBm25Store(baseDocs, "doc_id", "text", "tst_bm25_adv", numBuckets = 8)
      Terms.writeBm25Store(all, "doc_id", "text", "tst_bm25_adv_reb", numBuckets = 8)
      // append path
      Terms.appendToBm25Store(batch, "doc_id", "text", "tst_bm25_adv", numBuckets = 8)
      for (q <- qs)
        assert(searchRows("tst_bm25_adv", q) == searchRows("tst_bm25_adv_reb", q),
          s"append case=$i terms=$q")
      // delta + compaction path on a fresh store
      Terms.dropBm25Store(spark, "tst_bm25_adv")
      Terms.writeBm25Store(baseDocs, "doc_id", "text", "tst_bm25_adv", numBuckets = 8)
      val delta = java.nio.file.Files.createTempDirectory(s"bm25_adv$i").toString
      Terms.writeBm25DeltaBatch(batch, "doc_id", "text", delta, 0L)
      for (q <- qs)
        assert(Terms.bm25SearchWithDeltas(spark, "tst_bm25_adv", delta, q, k = 10)
          .as[(Long, Long, Double, Long)].collect().toSeq ==
          searchRows("tst_bm25_adv_reb", q), s"delta case=$i terms=$q")
      Terms.compactBm25Delta(spark, "tst_bm25_adv", delta,
        numBuckets = 8, maxBatchExclusive = 1L)
      for (q <- qs)
        assert(searchRows("tst_bm25_adv", q) == searchRows("tst_bm25_adv_reb", q),
          s"compacted case=$i terms=$q")
    }
    Terms.dropBm25Store(spark, "tst_bm25_adv")
    Terms.dropBm25Store(spark, "tst_bm25_adv_reb")
  }
}
