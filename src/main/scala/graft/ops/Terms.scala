package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-statistics operators for corpus analysis: per-document term
  * frequencies, corpus document frequencies, TF-IDF keyword extraction,
  * corpus vocabulary, and mixture planning.
  *
  * Scale shapes:
  *  - [[termFrequencies]] is explode + one hash aggregation on
  *    (doc, term) — partial aggregation combines map-side, so the exchange
  *    carries per-(doc, term) partial counts, not raw tokens.
  *  - [[tfIdfTopTerms]] adds one aggregation + join on the term (document
  *    frequencies are corpus-wide state — that shuffle is irreducible) and
  *    ranks per doc with a window whose partitions are single documents:
  *    bounded by document length, never by corpus size, so this is NOT the
  *    per-query product-shuffle trap [[Similarity]] avoids with TopK —
  *    parallelism here is the number of documents.
  *  - [[vocabulary]] is one term aggregation + a global
  *    `TakeOrderedAndProject` top-k (no full sort).
  *  - [[mixturePlan]] aggregates the corpus per stratum (tiny output) and
  *    computes keep-rates driver-free; the result is broadcastable state
  *    for [[TextOps.stratifiedSample]]-style downsampling.
  */
object Terms {

  /** (doc_id, term, tf) over whitespace tokens of the normalized text.
    * Empty docs contribute no rows. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Layout.spread(df, idCol)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.wsTokens(TextOps.normalizeText(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Top-k terms per document by TF-IDF.
    *
    * `idf` weighting is the LINEAR inverse frequency n_docs/df (not
    * log-damped): division and multiplication are correctly-rounded IEEE
    * operations, so an external SQL engine replays every score bit-for-bit
    * — `ln` is only 1-ulp-accurate and differs across libm
    * implementations, which would make cross-engine rank comparisons
    * knife-edged. Both weightings order terms identically for a fixed tf;
    * production pipelines wanting log damping can rank on
    * `tf * ln(n_docs / df)` with the same plan shape.
    *
    * Output: (doc_id, term, tf, df, tf_idf, rnk), rnk 1..k per doc by
    * (tf_idf desc, term asc) — total order, deterministic.
    *
    * Cache lifecycle: the (doc, term) frequency frame persists
    * MEMORY_AND_DISK (it feeds both the document-frequency aggregation and
    * the scoring join); same contract as the pair generators —
    * `spark.catalog.clearCache()` between different corpora. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // tf feeds two plan branches (document frequencies and the scoring
    // join): persist so the tokenize + aggregate pipeline runs once
    val tf = termFrequencies(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf_idf").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tf_idf",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tf_idf"), col("rnk"))
  }

  /** Corpus vocabulary: top-k terms by total occurrence count, with the
    * number of documents containing each. Ties broken by term — total
    * order, deterministic. Global top-k plans as TakeOrderedAndProject. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame =
    termFrequencies(df, idCol, textCol)
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("term").asc)
      .limit(k)

  /** Corpus-wide adjacent-token-pair counts, top-k — the inner step of
    * BPE-style tokenizer training (each merge round picks the most frequent
    * adjacent pair). Pairs are built per doc with a zip of the token array
    * against its own tail (one narrow pass, no shuffle; a doc with fewer
    * than 2 tokens contributes nothing), counted with a map-side-partial
    * hash aggregation, and the global top-k plans as TakeOrderedAndProject.
    * Ties break by pair text — total order, deterministic. */
  def bpePairCounts(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // tokenizer materialized as an attribute first — the lambda path has
    // no CSE, so three references re-ran the regex pipeline per doc
    Layout.spread(df, idCol)
      .select(TextOps.wsTokens(TextOps.normalizeText(col(textCol))).as("__toks"))
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
        slice(col("__toks"), lit(2), greatest(size(col("__toks")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      // no empty-pair filter needed: an empty/whitespace doc tokenizes to
      // the singleton [""], which yields zero pairs (size - 1 = 0)
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Per-document bigram-model quality score — the statistical-LM fluency
    * signal corpus filters cut on (gibberish and boilerplate score low
    * against the corpus's own bigram statistics). For each document:
    * `avg_cond_p` = the mean over its bigram instances of the corpus
    * conditional probability P(w2|w1) = c(w1,w2) / c(w1,·).
    *
    * Linear probability ON PURPOSE, not log-space: division is a
    * correctly-rounded IEEE operation an external SQL engine replays
    * bit-for-bit, while `ln` is 1-ulp-accurate and libm-dependent (the
    * same trade [[tfIdfTopTerms]] documents). Production pipelines wanting
    * KenLM-style log-perplexity rank on `avg(ln(p))` with the identical
    * plan shape.
    *
    * Scale shape: per-doc bigrams are a narrow zip pass (no shuffle); the
    * corpus bigram table is vocabulary²-bounded — far smaller than the
    * corpus but NOT broadcastable, so scoring is a shuffle join on
    * (w1, w2); prefix counts c(w1,·) come from a window over the already
    * aggregated bigram frame (vocabulary-sized partitions, no extra pass
    * over the corpus). Documents with < 2 tokens have no bigrams and are
    * absent from the output.
    *
    * Cache lifecycle: the (doc, w1, w2) frame persists MEMORY_AND_DISK (it
    * feeds both the count aggregation and the scoring join); same contract
    * as the pair generators — `spark.catalog.clearCache()` between
    * corpora. */
  def bigramCondProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array as an attribute FIRST: the zip_with
    // lambda is CodegenFallback with no common-subexpression elimination,
    // so referencing the normalize+split subtree three times (two slices
    // + size) re-ran the regex pipeline three times per document
    val bigrams = Layout.spread(df, idCol)
      .select(col(idCol).as("doc_id"),
        TextOps.wsTokens(TextOps.normalizeText(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
          slice(col("__toks"), lit(2), greatest(size(col("__toks")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val probs = counts
      .withColumn("__c1", sum(col("c2")).over(Window.partitionBy(col("w1"))))
      .withColumn("cond_p", col("c2").cast("double") / col("__c1").cast("double"))
      .select(col("w1"), col("w2"), col("cond_p"))
    bigrams.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("cond_p")), 6).as("avg_cond_p"))
  }

  /** Perplexity scoring under a Laplace-smoothed bigram LM with a
    * TRAIN/APPLY split — the CCNet quality-filter shape (Wenzek et al.
    * LREC'20: an LM trained on a clean reference corpus scores every
    * candidate document; low perplexity ≈ reference-like, high ≈ noise),
    * with the n-gram LM standing in for their KenLM. Per scored document:
    * n_bigrams, avg_nll (mean −log₂ p(w₂|w₁)) and ppl = 2^avg_nll, where
    * p(w₂|w₁) = (c(w₁,w₂)+1) / (c(w₁,·)+V) over TRAINING counts, V =
    * distinct training tokens — so unseen contexts degrade gracefully to
    * 1/V instead of zeroing the document. A pipeline thresholds on ppl
    * (keep low band, drop or down-weight the tail); unlike
    * [[bigramCondProb]] (self-scored, unsmoothed) this is the
    * cross-corpus form: the model never sees the scored text.
    *
    * Scale shape: training counts are one map-side-combined aggregation
    * of the training corpus (vocabulary²-bounded output); context counts
    * re-aggregate the COUNT table, not the corpus; V is a scalar frame
    * cross-joined via broadcast. Scoring shuffles the candidate bigram
    * stream once onto (w1, w2) and once onto w1 for the two lookup
    * joins (left joins — unseen pairs/contexts coalesce to 0), then
    * aggregates per doc. Nothing corpus-sized is collected or broadcast;
    * documents with < 2 tokens have no bigrams and are absent. */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
                       train: DataFrame, trainTextCol: String): DataFrame = {
    // two-step select so the tokenizer runs ONCE per row (see
    // bigramCondProb — the lambda path has no CSE over the regex subtree)
    def bgFrom(toks: Column): Column =
      explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg")
    def toks(tcol: String): Column =
      TextOps.wsTokens(TextOps.normalizeText(col(tcol))).as("__toks")
    val trainBg = train.select(toks(trainTextCol)).select(bgFrom(col("__toks")))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = trainBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("__c2")).as("__c1"))
    val vDf = train
      .select(explode(TextOps.wsTokens(TextOps.normalizeText(col(trainTextCol)))).as("w"))
      .agg(countDistinct(col("w")).as("__v"))
    val scoreBg = docs.select(col(idCol).as("doc_id"), toks(textCol))
      .select(col("doc_id"), bgFrom(col("__toks")))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val nll = scoreBg
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vDf))
      .withColumn("__nll", -log(2.0,
        (coalesce(col("__c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double")))
    nll.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"),
        round(pow(lit(2.0), avg(col("__nll"))), 4).as("ppl"))
  }

  /** Driver-collected bigram LM for broadcast serving — the serve-time
    * twin of [[bigramPerplexity]] (same Laplace algebra: seen pair →
    * (c2+1)/(c1+V), unseen pair in seen context → 1/(c1+V), unseen
    * context → 1/V). `pairP` and `ctxDenom` are VOCABULARY-sized by the
    * [[bigramLmTrainCollect]] guard, never corpus-sized. */
  final case class BigramLmModel(pairP: Map[(String, String), Double],
                                 ctxDenom: Map[String, Double], v: Long) {
    private val ln2 = math.log(2.0)
    def nll(w1: String, w2: String): Double = {
      val d = ctxDenom.getOrElse(w1, v.toDouble)
      -math.log(pairP.getOrElse((w1, w2), 1.0 / d)) / ln2
    }
    /** (n_bigrams, avg_nll, ppl) — None for sub-bigram docs, matching the
      * batch operator's absent-row contract. */
    def score(tokens: Seq[String]): Option[(Long, Double, Double)] =
      if (tokens.length < 2) None
      else {
        var s = 0.0
        var i = 0
        while (i < tokens.length - 1) { s += nll(tokens(i), tokens(i + 1)); i += 1 }
        val avg = s / (tokens.length - 1)
        Some((tokens.length - 1L, avg, math.pow(2.0, avg)))
      }
  }

  /** Train the bigram LM and collect it for broadcast serving. The
    * collect is the OBSERVED-bigram table (≤ vocab², in practice a few ×
    * vocab — the Heaps'-law tail), guarded like
    * [[graft.ops.Classify.nbTrainCollect]]: crossing `maxPairs` raises
    * with advice (serve from the distributed frames via
    * [[bigramPerplexity]]) instead of silently OOMing the driver. */
  def bigramLmTrainCollect(train: DataFrame, textCol: String,
                           maxPairs: Int = 5000000): BigramLmModel = {
    val toks = TextOps.wsTokens(TextOps.normalizeText(col(textCol)))
    val bg = train.select(toks.as("__toks")) // tokenize ONCE (no lambda CSE)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
        slice(col("__toks"), lit(2), greatest(size(col("__toks")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = c2.limit(maxPairs + 1).collect()
    require(rows.length <= maxPairs,
      s"bigramLmTrainCollect: observed-bigram table exceeds maxPairs=$maxPairs — " +
        "raise the cap or serve through the distributed bigramPerplexity join")
    val v = train.select(explode(toks).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    c2.unpersist()
    val c1 = rows.groupBy(_.getString(0)).map { case (w1, rs) =>
      w1 -> (rs.map(_.getLong(2)).sum + v).toDouble
    }
    val pairP = rows.map { r =>
      val d = c1(r.getString(0))
      (r.getString(0), r.getString(1)) -> (r.getLong(2) + 1L).toDouble / d
    }.toMap
    BigramLmModel(pairP, c1, v)
  }

  /** Train BPE merge rules over the corpus — the full tokenizer-training
    * loop whose inner statistic is [[bpePairCounts]]. Split of work
    * follows every production tokenizer trainer: the CORPUS-sized stage
    * (normalize → tokenize → word-frequency count) runs distributed with
    * map-side partial aggregation — one shuffle, vocabulary-cardinality
    * output — and the merge loop runs driver-side over that collected
    * word-frequency table (O(vocab · merges), in-memory; a 100-TB corpus
    * still yields a word table of ~10^6-10^7 rows). Iterating the merge
    * loop as Spark jobs instead would pay numMerges × job overhead to
    * process kilobytes. `maxWords` guards the collect: crossing it raises
    * with advice rather than silently OOMing the driver.
    *
    * Deterministic: ties in pair frequency break lexicographically on
    * (first, second). Returns the ordered merge list — (symbol, symbol) →
    * merged token, highest-frequency first. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 2000000): Seq[(String, String)] = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val wordFreq = df
      .select(explode(TextOps.wsTokens(TextOps.normalizeText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // one corpus pass: the guard rides the same collect (limit + length
    // check) instead of a separate count() job re-running the aggregation
    val collected = wordFreq.limit(maxWords + 1).collect()
    require(collected.length <= maxWords,
      s"word vocabulary exceeds maxWords=$maxWords (at least ${maxWords + 1} " +
        "distinct words) — downsample the corpus for merge training " +
        "(merge rules converge on a fraction of the data)")
    var words: Array[(Array[String], Long)] = collected
      .map(r => (codePointSyms(r.getString(0)), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continue = true
    while (continue && merges.length < numMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, freq) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        words = words.map { case (syms, freq) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, freq)
        }
      }
    }
    merges.toSeq
  }

  /** UTF-32 code-point symbols — NOT UTF-16 code units: `w.map(_.toString)`
    * would split a surrogate pair (emoji, supplementary-plane CJK) into two
    * lone-surrogate "symbols" that are invalid strings on their own. */
  private def codePointSyms(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Apply trained merge rules to tokenize text — the column-side twin of
    * [[bpeTrain]]: per word, replay the merges in training order. The
    * rules broadcast (they are KBs); application is a narrow map. */
  def bpeApply(textCol: Column, merges: Seq[(String, String)]): Column = {
    val ruleArr = merges.map { case (a, b) => Array(a, b) }.toArray
    val applyMerges = udf { (w: String) =>
      if (w == null) null
      else {
        var syms = codePointSyms(w)
        ruleArr.foreach { r =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == r(0) && syms(i + 1) == r(1)) {
              out += (r(0) + r(1)); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toArray
        }
        syms
      }
    }
    flatten(transform(TextOps.wsTokens(TextOps.normalizeText(textCol)), applyMerges(_)))
  }

  /** Conjunctive term search: documents containing EVERY query term (over
    * distinct normalized tokens) — the retrieval query of a corpus
    * platform. One narrow tokenize + an `isin` filter that keeps only
    * (doc, query-term) rows — the corpus never shuffles, only matching
    * rows (≤ |terms| per doc) reach the count aggregation; conjunction is
    * `count == |terms|`, never |terms| chained self-joins. Query terms
    * must already be normalized (lowercase alnum) — enforced, because a
    * non-normalized term can never match and would silently return an
    * empty result. */
  def searchDocs(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String]): DataFrame = {
    requireNormalizedTerms(terms)
    // pure narrow conjunction: single-pass normalize KERNEL (bit-equal to
    // the composed regex chain — TextKernelsSpec; the chain's 4
    // interpreted regex passes dominated this scan, q41's lesson), split
    // once per row, then k array_contains probes — NO explode, NO
    // exchange. The filter stays in the scan stage, so at cluster scale
    // this is file-split parallel with zero data movement.
    val matchAll = df
      .select(col(idCol).as("doc_id"),
        TextOps.wsTokens(
          graft.functions.TextFunctions.normalize_text(col(textCol))).as("__toks"))
      .filter(terms.map(t => array_contains(col("__toks"), t))
        .reduceOption(_ && _).getOrElse(lit(false)))
    matchAll.select(col("doc_id"))
  }

  /** BM25 ranked retrieval over the corpus — [[searchDocs]]' boolean
    * conjunction upgraded to the standard relevance ranking a corpus
    * platform serves (the keyword leg of hybrid search next to the ANN
    * paths in [[Similarity]]).
    *
    *   score(doc) = Σ_{t ∈ query ∩ doc} idf(t) · tf·(k1+1) /
    *                  (tf + k1·(1 − b + b·dl/avgdl))
    *
    * `idf` is the RATIONAL Robertson form WITHOUT the log:
    * (N − df + 0.5)/(df + 0.5) + 1 — same bit-replayability decision as
    * [[tfIdfTopTerms]]' linear inverse frequency (`ln` is libm-dependent
    * at the last ulp, which makes cross-engine rank comparisons
    * knife-edged; division is correctly-rounded IEEE everywhere).
    * Production rankers wanting the log-damped form rank on
    * `ln(idf)`-weighted terms with the identical plan shape. Ranking
    * sorts on the 6-dp ROUNDED score (ties → doc_id asc), so the order an
    * external engine replays is the order this returns.
    *
    * Scale shape: the corpus pays two narrow scans and zero corpus-sized
    * shuffles — (1) per-doc token length + the global (N, avgdl)
    * aggregate (broadcast, 1 row); (2) tokenize with an `isin` prune
    * BEFORE any aggregation, so only (doc, query-term) instances reach
    * the tf shuffle (≤ |terms| rows per matching doc). Document
    * frequencies of the query terms are a |terms|-row broadcast;
    * candidate doc lengths join by id; the global top-k plans as
    * TakeOrderedAndProject. dl counts non-empty normalized tokens
    * (0 for empty/NULL text; NULL-text docs still count toward N and
    * avgdl, matching a LEFT-JOIN length oracle). */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    requireNormalizedTerms(terms)
    require(k >= 1, "k must be >= 1")
    // tokenize ONCE per doc and derive BOTH branches (doc length + the
    // query-term hits) from the same persisted frame — the two-branch
    // formulation tokenized every document twice, and the hits prune
    // happens on the token ARRAY (map-side) so only (doc, query-term)
    // instances ever explode
    val docLen = Layout.spread(df, idCol)
      .select(col(idCol).as("doc_id"),
        TextOps.wsTokens(TextOps.normalizeText(col(textCol))).as("__toks"))
      .select(col("doc_id"),
        coalesce(size(filter(col("__toks"), t => t =!= "")), lit(0))
          .cast("long").as("dl"),
        filter(col("__toks"), t => t.isin(terms: _*)).as("__hits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = docLen.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docLen
      .select(col("doc_id"), explode(col("__hits")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreAndRankBm25(
      tf.join(docLen.select(col("doc_id"), col("dl")), Seq("doc_id")),
      dfreq, stats, k, k1, b)
  }

  /** Shared BM25 scoring/ranking tail: `hits` carries one row per
    * (doc_id, term, tf, dl) query-term instance; `dfreq` the per-term
    * document frequencies; `stats` the 1-row (n_docs, avgdl). Used by both
    * [[bm25Search]] (computed live) and [[bm25SearchFromStore]] (read from
    * the postings store) so the two paths are score-identical by
    * construction. */
  private def scoreAndRankBm25(hits: DataFrame, dfreq: DataFrame,
                               stats: DataFrame, k: Int,
                               k1: Double, b: Double): DataFrame = {
    val w = col("idf") * col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    hits.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), round(sum(w), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
      // rank rides along for downstream fusion (rrfFuse); the window sees
      // only the k retained rows, so the single-partition sort is bounded
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
  }

  /** Build the persistent BM25 index — the index-once-query-many shape a
    * search platform actually serves from, vs [[bm25Search]]'s two live
    * corpus scans per query. The postings table (term, doc_id, tf, dl,
    * src) is bucketed+sorted by TERM, so a query's `isin` probe
    * bucket-prunes the scan to the query terms' buckets; `dl` is
    * denormalized into each posting so scoring needs NO doc-length join
    * at query time (one long per posting buys away a corpus-sized shuffle
    * per query). Two side tables land with it:
    *  - `<table>_stats` — the 1-row monoid (n_docs, sum_dl); avgdl is
    *    derived at read as sum/count, the same IEEE division Spark's
    *    avg() performs, so scores match the live path.
    *  - `<table>_docs` — (doc_id, dl, src), one row per indexed document
    *    INCLUDING zero-token ones (which have no postings). This is the
    *    index's document registry: deletion reads it for presence + dl
    *    ([[tombstoneBm25Docs]]), and stats are exactly recomputable from
    *    it (count/sum), which is what makes compaction idempotent.
    * `src` is a provenance column (−1 for the initial build, the delta
    * batch id for compacted batches): constant per file, so parquet RLE
    * stores it in a few bytes and row-group min/max stats let provenance
    * probes skip every file of other batches. Its job: an append's commit
    * IS the fold marker — [[compactBm25Delta]] re-checks it on replay, so
    * a crashed compaction can never double-count (no marker files, no
    * marker-vs-append crash window).
    * Build cost: one tokenize scan + the per-(doc, term) count
    * aggregation + the term bucket shuffle — index-sized, paid once (the
    * [[graft.ops.Dedup.writeLshSignatureStore]] amortization argument). */
  def writeBm25Store(df: DataFrame, idCol: String, textCol: String,
                     table: String, numBuckets: Int = 32): Unit = {
    dropBm25Store(df.sparkSession, table)
    val toks = bm25Toks(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_stats")
    toks.select(col("doc_id"), col("dl"), lit(-1L).as("src"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_docs")
    Stores.bucketAligned(bm25Postings(toks).withColumn("src", lit(-1L)),
        numBuckets, "term")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)
    toks.unpersist()
  }

  /** Drop every table/directory of a [[writeBm25Store]] index: postings,
    * stats, docs registry, tombstones, and stats adjustments. The
    * [[Stores.dropStore]] contract (a previous process can leave warehouse
    * locations behind with no entry in this session's catalog). */
  def dropBm25Store(spark: org.apache.spark.sql.SparkSession,
                    table: String): Unit = {
    Stores.dropStore(spark, table)
    Stores.dropStore(spark, s"${table}_stats")
    Stores.dropStore(spark, s"${table}_docs")
    val adj = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${table}_stats_tomb")
    val fs = adj.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(adj)) fs.delete(adj, true)
    ()
  }

  private def statsTombPath(spark: org.apache.spark.sql.SparkSession,
                            table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${table}_stats_tomb").toString

  /** The index's effective (n_docs, avgdl) — base monoid stats, minus the
    * per-delete-batch adjustments [[tombstoneBm25Docs]] recorded, plus any
    * extra monoid rows the caller unions in (the delta-log path). With no
    * deletions on disk this reads exactly the base stats row (zero
    * overhead until the first delete, the [[Stores]] contract). */
  private def bm25Stats(spark: org.apache.spark.sql.SparkSession,
                        table: String,
                        extra: Option[DataFrame] = None): DataFrame = {
    val base = spark.table(s"${table}_stats").select(col("n_docs"), col("sum_dl"))
    val tombPath = statsTombPath(spark, table)
    val withTomb =
      if (!hasBatchDirs(spark, tombPath)) base
      else base.unionByName(
        spark.read.option("basePath", tombPath).parquet(tombPath)
          .select((-col("n_docs")).as("n_docs"), (-col("sum_dl")).as("sum_dl")))
    val all = extra match {
      case None    => withTomb
      case Some(e) => withTomb.unionByName(e.select(col("n_docs"), col("sum_dl")))
    }
    all.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
  }

  /** Query the [[writeBm25Store]] index: read ONLY the query terms'
    * postings (bucket-pruned `isin` scan), drop tombstoned documents
    * (broadcast anti-join on the candidate slice, AFTER pruning — nothing
    * corpus-sized shuffles, and the plan is bit-identical to pre-deletion
    * when no tombstones exist), derive document frequencies from the
    * surviving probed rows (exact — a term's live postings ARE its live
    * document list), and score through the shared [[scoreAndRankBm25]]
    * tail with tombstone-adjusted stats. Identical output to
    * [[bm25Search]] on the surviving corpus for any query — deletion
    * changes postings, df, n_docs and sum_dl exactly as a rebuild would
    * (spec'd). Per-query cost is postings-of-terms sized, never corpus
    * sized. */
  def bm25SearchFromStore(spark: org.apache.spark.sql.SparkSession,
                          table: String, terms: Seq[String], k: Int,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireNormalizedTerms(terms)
    require(k >= 1, "k must be >= 1")
    val post = Stores.minusTombstones(
      spark.table(table).filter(col("term").isin(terms: _*)), table, "doc_id")
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreAndRankBm25(post, dfreq, bm25Stats(spark, table), k, k1, b)
  }

  /** Delete documents from a [[writeBm25Store]] index WITHOUT rewriting it
    * — the takedown / right-to-be-forgotten path, O(deleted) like every
    * [[Stores]] deletion. Records two tiny per-batch artifacts:
    *  - the tombstone ids ([[Stores.addTombstones]]) every reader
    *    anti-joins on its candidate slice;
    *  - a 1-row stats adjustment `<table>_stats_tomb/batch=B` holding the
    *    deleted docs' (count, Σdl), which [[bm25Stats]] subtracts from the
    *    monoid stats — so n_docs/avgdl are EXACTLY those of a rebuild over
    *    the surviving corpus, and therefore so is every score.
    * Presence and dl come from the `<table>_docs` registry (zero-token
    * docs included), so deleting a doc with no postings still decrements
    * n_docs. Ids never indexed are ignored; ids tombstoned by an EARLIER
    * batch are excluded from this batch's adjustment, which keeps the
    * batch's content a pure function of prior state — re-running a failed
    * delete batch overwrites byte-identical artifacts (the engine's
    * replay-idempotence contract). Distinct batch ids per delete request;
    * returns the number of newly deleted documents.
    * When the index also has an uncompacted delta log
    * ([[writeBm25DeltaBatch]]), pass it so docs living only in deltas are
    * deletable too; their adjustment rows fold the same way. */
  def tombstoneBm25Docs(table: String, ids: DataFrame, idCol: String,
                        batchId: Long,
                        deltaPath: Option[String] = None): Long = {
    val spark = ids.sparkSession
    val baseDocs = spark.table(s"${table}_docs").select(col("doc_id"), col("dl"))
    val docs = deltaPath match {
      case Some(p) if hasBatchDirs(spark, s"$p/docs") =>
        baseDocs.unionByName(
          spark.read.option("basePath", s"$p/docs").parquet(s"$p/docs")
            .select(col("doc_id"), col("dl")))
      case _ => baseDocs
    }
    val want = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    // candidate-sized from here on: the registry scan is narrow (2 longs)
    // and the broadcast inner join keeps only ids that are actually indexed
    val present = docs.join(broadcast(want), Seq("doc_id"))
      .dropDuplicates("doc_id")
    // exclude ids already tombstoned by EARLIER batches so this batch's
    // artifacts are deterministic under replay (earlier batches are frozen;
    // this batch's own previous attempt is invisible to the recompute)
    val tombPath = statsTombPath(spark, table)
    val priorTombs = Stores.tombstoneBatches(spark, table, exceptBatch = batchId)
    val fresh = priorTombs match {
      case None       => present
      case Some(dead) =>
        present.join(broadcast(dead), present("doc_id") === dead("id"), "left_anti")
    }
    val frozen = fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val row = frozen.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
    Stores.addTombstones(frozen, "doc_id", table, batchId)
    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1))).toDF("n_docs", "sum_dl")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tombPath/batch=$batchId")
    frozen.unpersist()
    row.getLong(0)
  }

  /** Amortized full rewrite of a tombstone-carrying index (the
    * [[Stores.compactInto]] version-swap, term-bucketed): materialize
    * postings and the docs registry minus tombstones into `newTable`'s
    * tables, recompute the monoid stats from the surviving registry, then
    * drop the old generation and all its tombstone state. Run it when
    * tombstoneCount / n_docs crosses the read-amplification budget;
    * consumers repoint (version-swap, never in-place). */
  def compactBm25Store(spark: org.apache.spark.sql.SparkSession,
                       table: String, newTable: String,
                       numBuckets: Int = 32,
                       publishAlias: Option[String] = None): Unit = {
    require(newTable != table, "compaction writes a NEW table version")
    dropBm25Store(spark, newTable)
    Stores.minusTombstones(spark.table(s"${table}_docs"), table, "doc_id")
      .select(col("doc_id"), col("dl"), lit(-1L).as("src"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${newTable}_docs")
    spark.table(s"${newTable}_docs")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${newTable}_stats")
    Stores.bucketAligned(
        Stores.minusTombstones(spark.table(table), table, "doc_id")
          .select(col("term"), col("doc_id"), col("dl"), col("tf"),
            lit(-1L).as("src")),
        numBuckets, "term")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(newTable)
    // the Stores.compactInto ordering argument: publish first, drop last
    publishAlias.foreach(a => Stores.publishVersion(spark, a, newTable))
    dropBm25Store(spark, table)
  }

  /** Append a NEW batch of documents into an existing [[writeBm25Store]]
    * index: the batch pays its own tokenize scan + per-(doc, term) count
    * + one bucket-aligned write into the postings layout — the existing
    * postings are untouched (no re-index, no re-shuffle), and the monoid
    * stats fold in exactly, so post-append scores EQUAL a full rebuild
    * over old ∪ new (spec'd). Caller contract (the
    * [[graft.ops.Dedup.appendToLshSignatureStore]] one): batch doc ids
    * are new — re-appending a doc id double-counts it, exactly as
    * re-inserting into any postings index would.
    * Crash window (documented, like [[compactBm25Delta]]'s recovery):
    * the postings append, docs append and stats overwrite are three
    * jobs; a failure between them leaves the index internally stale
    * (e.g. postings without registry rows). The stats table is always
    * recomputable from the registry (count/Σdl), and the registry is
    * append-only, so the repair for a torn append is: re-run the SAME
    * batch through the delta path ([[writeBm25DeltaBatch]] +
    * [[compactBm25Delta]], which is exactly-once) or rebuild
    * ([[writeBm25Store]]). Streams should prefer the delta path; this
    * entry point is for trusted one-shot batch loads. */
  def appendToBm25Store(df: DataFrame, idCol: String, textCol: String,
                        table: String, numBuckets: Int = 32): Unit = {
    val spark = df.sparkSession
    val toks = bm25Toks(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Array(nNew, dlNew) = toks
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val prev = spark.table(s"${table}_stats")
      .select(col("n_docs"), col("sum_dl")).head()
    Stores.bucketAligned(bm25Postings(toks).withColumn("src", lit(-2L)),
        numBuckets, "term")
      .write.mode("append")
      .bucketBy(numBuckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)
    toks.select(col("doc_id"), col("dl"), lit(-2L).as("src"))
      .write.mode("append").format("parquet").saveAsTable(s"${table}_docs")
    toks.unpersist()
    import spark.implicits._
    Seq((prev.getLong(0) + nNew, prev.getLong(1) + dlNew))
      .toDF("n_docs", "sum_dl")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_stats")
  }

  /** Query-term contract shared by every search entry point (live, store,
    * delta, batch workload): non-empty, distinct, normalized lowercase
    * alphanumerics — an un-normalized term would silently match nothing
    * against the normalized token stream, so it is rejected loudly. */
  private def requireNormalizedTerms(terms: Seq[String]): Unit = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct.size == terms.size, "terms must be distinct")
    require(terms.forall(t => t.nonEmpty && t.matches("[a-z0-9]+")),
      s"terms must be normalized lowercase alphanumerics, got: ${terms.mkString(",")}")
  }

  /** Shared batch tokenization for the BM25 family: (doc_id, dl, __toks)
    * with empty tokens filtered, null text → dl 0. */
  private def bm25Toks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Layout.spread(df, idCol)
      .select(col(idCol).as("doc_id"),
        filter(TextOps.wsTokens(TextOps.normalizeText(col(textCol))),
          t => t =!= "").as("__toks"))
      .select(col("doc_id"),
        coalesce(size(col("__toks")), lit(0)).cast("long").as("dl"),
        col("__toks"))

  private def bm25Postings(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Batched multi-query retrieval — the serving-throughput shape: score a
    * whole QUERY WORKLOAD (query_id, term) against the postings store in
    * ONE pass instead of one job per query. The union of workload terms
    * (driver-sized by the serving contract, like
    * [[graft.ops.Similarity.ivfSearchFromStore]]'s probe set) becomes the
    * bucket-pruning IN-list; the workload broadcasts onto the probed
    * postings; per-(query, doc) scores aggregate map-side-combined; and
    * per-query top-k uses the bounded [[graft.ops.Aggregators.TopK]] — at
    * most k rows per (query, partition) cross the wire, never a window
    * over the candidate set. Ranking is on the 6-dp ROUNDED score with
    * doc_id tie-break — the same order [[bm25SearchFromStore]] returns, so
    * per-query slices match the single-query path (the summation-order
    * freedom inside sum(w) is absorbed by the round, the q109 argument).
    * Output: (query_id, doc_id, bm25, rnk); n_hit is not carried through
    * the top-k buffer. */
  def bm25BatchSearchFromStore(spark: org.apache.spark.sql.SparkSession,
                               table: String, queries: DataFrame, k: Int,
                               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (workload, terms) = bm25Workload(queries)
    val post = Stores.minusTombstones(
      spark.table(table).filter(col("term").isin(terms: _*)), table, "doc_id")
    bm25BatchScore(post, bm25Stats(spark, table), workload, k, k1, b)
  }

  /** Batched workload over base PLUS the uncompacted delta log — the
    * serving matrix completed: {single, workload} × {store, store∪deltas}
    * all share the same scoring arithmetic, so every combination is
    * score-identical to a rebuild (the [[bm25SearchWithDeltas]] argument
    * applied to the [[bm25BatchSearchFromStore]] plan shape). */
  def bm25BatchSearchWithDeltas(spark: org.apache.spark.sql.SparkSession,
                                table: String, deltaPath: String,
                                queries: DataFrame, k: Int,
                                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (workload, terms) = bm25Workload(queries)
    val base = spark.table(table).filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    val unioned =
      if (!hasBatchDirs(spark, s"$deltaPath/post")) base
      else base.unionByName(
        spark.read.option("basePath", s"$deltaPath/post")
          .parquet(s"$deltaPath/post")
          .filter(col("term").isin(terms: _*))
          .select(col("term"), col("doc_id"), col("dl"), col("tf")))
    val post = Stores.minusTombstones(unioned, table, "doc_id")
    val deltaStats =
      if (!hasBatchDirs(spark, s"$deltaPath/stats")) None
      else Some(spark.read.option("basePath", s"$deltaPath/stats")
        .parquet(s"$deltaPath/stats").select(col("n_docs"), col("sum_dl")))
    bm25BatchScore(post, bm25Stats(spark, table, deltaStats), workload, k, k1, b)
  }

  /** Workload prep shared by the batch entry points: distinct
    * (query_id, term) pairs + the driver-collected term union under the
    * shared normalized-terms contract. */
  private def bm25Workload(queries: DataFrame): (DataFrame, Seq[String]) = {
    val workload = queries.select(col("query_id"), col("term")).distinct()
    val terms = workload.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // the shared query-term contract applies to the workload union too: an
    // un-normalized term would silently match nothing against the
    // normalized token stream
    requireNormalizedTerms(terms)
    (workload, terms)
  }

  /** Shared batch scoring tail over assembled (postings, stats): broadcast
    * workload join, per-(query, doc) map-side-combined aggregation,
    * bounded per-query TopK — the q135 plan shape. */
  private def bm25BatchScore(post: DataFrame, stats: DataFrame,
                             workload: DataFrame, k: Int,
                             k1: Double, b: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = col("idf") * col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    val scored = post
      .join(broadcast(workload), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(w), 6).as("bm25"))
    val topk = udaf(new Aggregators.TopK(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("bm25"), col("doc_id").cast("long")).as("recs"))
      .select(col("query_id"), posexplode(col("recs")))
      .select(col("query_id"), col("col._2").as("doc_id"),
        col("col._1").as("bm25"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** STREAMING-grade BM25 maintenance, part 1: land ONE micro-batch's
    * postings, registry rows and stats as `deltaPath/post/batch=B` +
    * `docs/batch=B` + `stats/batch=B`
    * (per-batch OVERWRITE = the engine's replay-idempotence contract —
    * a failure-replayed batch rewrites byte-identical content, unlike
    * [[appendToBm25Store]] whose bucketed append would double-count).
    * Search unions base + deltas ([[bm25SearchWithDeltas]]); the LSM
    * fold into the bucketed base is [[compactBm25Delta]]. */
  def writeBm25DeltaBatch(df: DataFrame, idCol: String, textCol: String,
                          deltaPath: String, batchId: Long): Unit = {
    val toks = bm25Toks(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bm25Postings(toks)
      .write.mode("overwrite").parquet(s"$deltaPath/post/batch=$batchId")
    toks.select(col("doc_id"), col("dl"))
      .write.mode("overwrite").parquet(s"$deltaPath/docs/batch=$batchId")
    toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$deltaPath/stats/batch=$batchId")
    toks.unpersist()
    ()
  }

  private def hasBatchDirs(spark: org.apache.spark.sql.SparkSession,
                           path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
  }

  /** Query the base index PLUS the uncompacted delta log: base postings
    * stay bucket-pruned; delta postings (small by the LSM contract —
    * recent batches only) filter on the term without pruning; the monoid
    * stats fold base + per-batch rows minus any tombstone adjustments;
    * tombstoned docs drop out of the unioned candidate slice (anti-join
    * after pruning, [[bm25SearchFromStore]]'s shape). Scores are EXACTLY
    * those of a full rebuild over (base ∪ deltas) − deleted: the score
    * depends only on the postings multiset and (n_docs, sum_dl), and the
    * union/filter preserves both (spec'd). */
  def bm25SearchWithDeltas(spark: org.apache.spark.sql.SparkSession,
                           table: String, deltaPath: String,
                           terms: Seq[String], k: Int,
                           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireNormalizedTerms(terms)
    require(k >= 1, "k must be >= 1")
    val base = spark.table(table).filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    val unioned =
      if (!hasBatchDirs(spark, s"$deltaPath/post")) base
      else base.unionByName(
        spark.read.option("basePath", s"$deltaPath/post")
          .parquet(s"$deltaPath/post")
          .filter(col("term").isin(terms: _*))
          .select(col("term"), col("doc_id"), col("dl"), col("tf")))
    val post = Stores.minusTombstones(unioned, table, "doc_id")
    val deltaStats =
      if (!hasBatchDirs(spark, s"$deltaPath/stats")) None
      else Some(spark.read.option("basePath", s"$deltaPath/stats")
        .parquet(s"$deltaPath/stats").select(col("n_docs"), col("sum_dl")))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreAndRankBm25(post, dfreq, bm25Stats(spark, table, deltaStats), k, k1, b)
  }

  /** LSM compaction of the BM25 delta log: append COMMITTED batches'
    * postings and registry rows into the bucketed base (O(delta) — the
    * existing index is never rewritten), recompute the monoid stats, and
    * delete the folded directories so base ∪ delta stays duplicate-free.
    * `maxBatchExclusive` has no default for the same reason
    * [[graft.ops.Dedup.compactLshDelta]]'s doesn't: only the stream's
    * checkpoint knows which batches are committed, and folding an
    * uncommitted batch would let its own replay double itself.
    *
    * EXACTLY-ONCE under crash/replay — every step is independently
    * idempotent, so re-running after a failure at ANY point converges
    * with no double- or under-count (spec'd by a kill-between-steps
    * simulation):
    *  1. postings append carries `src` = the delta batch id, and the
    *     append is skipped for any batch whose `src` already appears in
    *     the base table — the append's own job commit is the fold marker
    *     (atomic at job granularity under Spark's file-commit protocol;
    *     row-group min/max stats on the constant `src` column make the
    *     provenance probe a footer-only scan);
    *  2. the docs-registry append is guarded the same way by the
    *     registry's `src` column;
    *  3. stats are RECOMPUTED from the registry (count, Σdl) rather than
    *     incremented — idempotent by derivation, and tombstone
    *     adjustments stay separate so deletion state survives;
    *  4. deleting the folded batch directories is trivially idempotent.
    * Returns the number of batches folded. Single-owner offline op. */
  def compactBm25Delta(spark: org.apache.spark.sql.SparkSession,
                       table: String, deltaPath: String, numBuckets: Int,
                       maxBatchExclusive: Long): Int =
    compactBm25DeltaImpl(spark, table, deltaPath, numBuckets,
      maxBatchExclusive, crashAfterStep = Int.MaxValue)

  /** [[compactBm25Delta]] body with a test-only crash injection point:
    * throws after step `crashAfterStep` so the kill-between-steps spec can
    * exercise every recovery path of the exactly-once protocol. */
  private[ops] def compactBm25DeltaImpl(spark: org.apache.spark.sql.SparkSession,
                                        table: String, deltaPath: String,
                                        numBuckets: Int, maxBatchExclusive: Long,
                                        crashAfterStep: Int): Int = {
    import spark.implicits._
    def crash(step: Int): Unit =
      if (crashAfterStep == step)
        throw new RuntimeException(s"simulated crash after compaction step $step")
    if (!hasBatchDirs(spark, s"$deltaPath/post")) return 0
    // batch ids from the DIRECTORY listing, not the row values: a zero-row
    // batch (an empty micro-batch) has a dir but no rows, and must still
    // be swept
    val fsList = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(deltaPath), spark.sparkContext.hadoopConfiguration)
    val batches = fsList
      .listStatus(new org.apache.hadoop.fs.Path(s"$deltaPath/post"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .filter(_ < maxBatchExclusive).sorted.toSeq
    if (batches.isEmpty) return 0
    val post = spark.read.option("basePath", s"$deltaPath/post")
      .parquet(s"$deltaPath/post").filter(col("batch") < maxBatchExclusive)
    // step 1: postings append, guarded by base-table src provenance
    val postDone = spark.table(table).select(col("src"))
      .filter(col("src").isin(batches: _*)).distinct().as[Long].collect().toSet
    val postPending = batches.filterNot(postDone)
    if (postPending.nonEmpty)
      Stores.bucketAligned(post.filter(col("batch").isin(postPending: _*))
          .select(col("term"), col("doc_id"), col("dl"), col("tf"),
            col("batch").cast("long").as("src")),
          numBuckets, "term")
        .write.mode("append")
        .bucketBy(numBuckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(table)
    crash(1)
    // step 2: docs-registry append, guarded by registry src provenance
    val docsDone = spark.table(s"${table}_docs").select(col("src"))
      .filter(col("src").isin(batches: _*)).distinct().as[Long].collect().toSet
    val docsPending = batches.filterNot(docsDone)
    if (docsPending.nonEmpty)
      spark.read.option("basePath", s"$deltaPath/docs")
        .parquet(s"$deltaPath/docs")
        .filter(col("batch").isin(docsPending: _*))
        .select(col("doc_id"), col("dl"), col("batch").cast("long").as("src"))
        .write.mode("append").format("parquet").saveAsTable(s"${table}_docs")
    crash(2)
    // step 3: stats recomputed from the registry — idempotent by
    // derivation; tombstone adjustments live in their own side files
    spark.table(s"${table}_docs")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_stats")
    crash(3)
    // step 4: idempotent cleanup of the folded directories
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(deltaPath), spark.sparkContext.hadoopConfiguration)
    batches.foreach { bId =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$deltaPath/post/batch=$bId"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$deltaPath/docs/batch=$bId"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$deltaPath/stats/batch=$bId"), true)
    }
    batches.length
  }

  /** Corpus mixture planning — the sizing step of data curation: given a
    * target token budget and per-stratum mixture weights, compute for each
    * stratum (source, language, quality bucket...) its token count, target
    * share, and the keep-rate a downsampler must apply. keep_rate is capped
    * at 1.0 — a stratum smaller than its target cannot be upsampled here,
    * and `expected_tokens` reports what the plan actually yields so the
    * caller can re-normalize or flag the shortfall.
    *
    * `weights`: target fraction per stratum value; strata not in the map
    * get `defaultWeight`. One tiny aggregation over the corpus; the output
    * is one row per stratum (broadcastable to drive
    * [[TextOps.stratifiedSample]]). */
  def mixturePlan(df: DataFrame, strataCol: String, tokens: Column,
                  weights: Map[String, Double], defaultWeight: Double,
                  budgetTokens: Long): DataFrame = {
    df.groupBy(col(strataCol).as("stratum"))
      .agg(sum(tokens).as("tokens"))
      .withColumn("weight", weights.foldLeft(lit(defaultWeight)) {
        case (acc, (k, v)) => when(col("stratum") === k, lit(v)).otherwise(acc)
      })
      .withColumn("target_tokens", col("weight") * budgetTokens)
      // nullif guards ANSI divide-by-zero on an empty stratum (tokens = 0)
      .withColumn("keep_rate",
        least(lit(1.0), coalesce(col("target_tokens") /
          nullif(col("tokens").cast("double"), lit(0.0)), lit(1.0))))
      .withColumn("expected_tokens", col("keep_rate") * col("tokens"))
      .select(col("stratum"), col("tokens"), col("weight"),
        col("target_tokens"), col("keep_rate"), col("expected_tokens"))
  }
}
