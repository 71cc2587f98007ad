package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class GraphCFSpec extends SparkTestBase {
  import spark.implicits._

  /** 3 users x 3 items, hand-traceable:
    *   u1: a, a, b   u2: b, c   u3: a
    * Quantized transitions (scale 10):
    *   P(u1→a)=floor(20/3)=6  P(u1→b)=floor(10/3)=3
    *   P(u2→b)=5 P(u2→c)=5    P(u3→a)=10
    *   P(a→u1)=floor(20/3)=6  P(a→u3)=floor(10/3)=3
    *   P(b→u1)=5 P(b→u2)=5    P(c→u2)=10
    * S = P_iu · P_ui, score(u,s') = Σ_s P(u→s)·S(s,s'). */
  private val inter = Seq(
    (1L, "a"), (1L, "a"), (1L, "b"),
    (2L, "b"), (2L, "c"),
    (3L, "a"))
    .toDF("user", "item")

  test("p3alphaRecs matches the hand-computed quantized walk") {
    val got = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .select($"user", $"item", $"score", $"rnk")
      .as[(Long, String, Long, Long)].collect().toSet
    // S entries: S(a,a)=6*6+3*10=66  S(a,b)=6*3=18
    //            S(b,a)=5*6=30 S(b,b)=5*3=15 S(b,c)=5*5=25
    //            S(c,b)=10*5=50 S(c,c)=10*5=50
    // u1 unseen: c -> P(u1→b)*S(b,c)=3*25=75
    // u2 unseen: a -> P(u2→b)*S(b,a)=5*30=150
    // u3 unseen: b -> P(u3→a)*S(a,b)=10*18=180 ; c -> 0 mass, dropped
    assert(got == Set(
      (1L, "c", 75L, 1L),
      (2L, "a", 150L, 1L),
      (3L, "b", 180L, 1L)))
  }

  test("result is bit-identical under repartitioning (order-free integers)") {
    val a = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .collect().toSet
    val b = GraphCF.p3alphaRecsFromEdges(
      GraphCF.edges(inter.repartition(7), "user", "item"),
      "user", "item",
      k = 3, scale = 10L).collect().toSet
    assert(a == b)
    spark.catalog.clearCache()
  }

  test("big-catalog shuffle mode is bit-identical to the broadcast mode") {
    // padding the fixture past broadcastKeys distinct items makes the
    // truncated similarity matrix shuffle-join — the >10k-catalog plan.
    // Each pad user holds ONE fresh item: no co-pairs, and its only
    // candidate is already seen, so the original users' recs must
    // reproduce the broadcast plan's bit for bit
    val pad = (1L to GraphCF.broadcastKeys + 1L)
      .map(n => (-n, s"pad$n")).toDF("user", "item")
    val big = GraphCF.edges(inter.union(pad), "user", "item")
    assert(big.select($"i").distinct().count() > GraphCF.broadcastKeys)
    val bc = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L).collect().toSet
    val sh = GraphCF.p3alphaRecsFromEdges(big, "user", "item", k = 3,
      scale = 10L).filter($"user" > 0L).collect().toSet
    assert(bc == sh)
    val bcK = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L).collect().toSet
    val shK = GraphCF.itemKnnRecsFromEdges(big, "user", "item", k = 3,
      scale = 10L).filter($"user" > 0L).collect().toSet
    assert(bcK == shK)
    spark.catalog.clearCache()
  }

  test("maxHistory keeps each user's top-C edges by (weight desc, item asc)") {
    // u1's history: a (w=2), b (w=1) — cap 1 keeps only a.
    // u2's history: b, c (both w=1) — tie resolves to the SMALLER item b.
    // The capped run must equal running on the manually pre-capped log.
    val cappedLog = Seq(
      (1L, "a"), (1L, "a"), // u1 keeps a (w=2)
      (2L, "b"),            // u2 keeps b (w=1, tie-break over c)
      (3L, "a"))
      .toDF("user", "item")
    val got = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item",
      maxHistory = 1), "user", "item", k = 3, scale = 10L).collect().toSet
    val want = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(cappedLog, "user",
      "item"), "user", "item", k = 3, scale = 10L).collect().toSet
    assert(got == want)
    val gotP3 = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(inter, "user",
      "item", maxHistory = 1), "user", "item", k = 3, scale = 10L)
      .collect().toSet
    val wantP3 = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(cappedLog, "user",
      "item"), "user", "item", k = 3, scale = 10L).collect().toSet
    assert(gotP3 == wantP3)
    spark.catalog.clearCache()
  }

  test("itemKnnRecsFromStore equals the direct build (split batches)") {
    val dir = java.nio.file.Files.createTempDirectory("edge_store_recs").toString
    // (u1, a)'s TWO interactions split across the batches — the fold
    // must merge the partial counts back to w=2
    GraphCF.writeEdgeBatch(Seq((1L, "a"), (1L, "b"), (2L, "b"))
      .toDF("user", "item"), "user", "item", dir, 0L)
    GraphCF.writeEdgeBatch(Seq((1L, "a"), (2L, "c"), (3L, "a"))
      .toDF("user", "item"), "user", "item", dir, 1L)
    val got = GraphCF.itemKnnRecsFromEdges(GraphCF.edgesFromStore(spark, dir),
      "user", "item", k = 3, scale = 10L).collect().toSet
    val want = GraphCF.itemKnnRecsFromEdges(
      GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .collect().toSet
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("foldCoDelta == one-shot coCounts, including a cap eviction") {
    // old: u1 {a:2, b:1, c:1} -> cap 2 keeps a,b (tie b < c); u2 {b, c}.
    // delta: u1 gets c twice -> merged u1 {a:2, b:1, c:3} -> cap 2 keeps
    // c,a — b is EVICTED from u1's capped history, so the fold must
    // subtract u1's old outer product (which contained b) and add the
    // new one (which doesn't); u2 is untouched and must not recompute.
    val old = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "b"), (2L, "c")).toDF("user", "item")
    val delta = Seq((1L, "c"), (1L, "c")).toDF("user", "item")
    val oldCo = GraphCF.coCounts(old, "user", "item", maxHistory = 2)
    val folded = GraphCF.foldCoDelta(old, delta, "user", "item", oldCo,
      maxHistory = 2).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val oneShot = GraphCF.coCounts(old.union(delta), "user", "item",
      maxHistory = 2).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(folded == oneShot)
    // sanity on the expected content: u1 now pairs a-c (2*3), u2 b-c
    assert(oneShot == Set(("a", "c", 6L), ("c", "a", 6L),
      ("b", "c", 1L), ("c", "b", 1L)))
    spark.catalog.clearCache()
  }

  test("foldCoDelta with a delta-only user (no old history)") {
    val old = Seq((1L, "a"), (1L, "b")).toDF("user", "item")
    val delta = Seq((9L, "a"), (9L, "c")).toDF("user", "item")
    val oldCo = GraphCF.coCounts(old, "user", "item")
    val folded = GraphCF.foldCoDelta(old, delta, "user", "item", oldCo)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val oneShot = GraphCF.coCounts(old.union(delta), "user", "item")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(folded == oneShot)
    spark.catalog.clearCache()
  }

  test("itemKnnRecs refuses corpora past the exactness budget") {
    // one (user, item) pair repeated 50k times -> norm^2 = 2.5e9 > 2^31:
    // n1*n2 could overflow a long, so the operator must raise with advice
    val heavy = Seq.fill(50000)((1L, "a")).toDF("user", "item")
      .union(Seq((1L, "b"), (2L, "a"), (2L, "b")).toDF("user", "item"))
    val e = intercept[IllegalArgumentException] {
      GraphCF.itemKnnRecsFromEdges(GraphCF.edges(heavy, "user", "item"),
        "user", "item", k = 1)
    }
    assert(e.getMessage.contains("norm"))
    spark.catalog.clearCache()
  }

  test("seen items are excluded and ties break to the smallest item") {
    // u1 and u2 both interact with x once; y and z get equal walk mass
    // from the shared co-user -> tie resolves to the smaller item id
    val sym = Seq((1L, "x"), (2L, "x"), (2L, "y"), (2L, "z"))
      .toDF("user", "item")
    val recs = GraphCF.p3alphaRecsFromEdges(GraphCF.edges(sym, "user", "item"),
      "user", "item", k = 2, scale = 100L)
      .filter($"user" === 1L)
      .select($"item", $"rnk").as[(String, Long)].collect().toSeq.sortBy(_._2)
    assert(recs.map(_._1) == Seq("y", "z"))
    assert(!recs.map(_._1).contains("x"))
    spark.catalog.clearCache()
  }

  // ----------------------------------------------------------- itemKnnRecs

  test("itemKnnRecs matches the hand-computed quantized cosine") {
    // w: (u1,a)=2 (u1,b)=1 (u2,b)=1 (u2,c)=1 (u3,a)=1
    // norms²: a=5, b=2, c=1
    // co(a,b)=2 (via u1), co(b,c)=1 (via u2), co(a,c)=0
    // scale 10: q(a,b)=q(b,a)=floor(20/√10)=6, q(b,c)=q(c,b)=floor(10/√2)=7
    // u1 unseen c: w(u1,b)·q(b,c)=7 ; u2 unseen a: w(u2,b)·q(b,a)=6
    // u3 unseen b: w(u3,a)·q(a,b)=6 ; u3→c has zero mass, dropped
    val got = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .select($"user", $"item", $"score", $"rnk")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, "c", 7L, 1L),
      (2L, "a", 6L, 1L),
      (3L, "b", 6L, 1L)))
    spark.catalog.clearCache()
  }

  test("itemKnnRecs is bit-identical under repartitioning") {
    val a = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .collect().toSet
    val b = GraphCF.itemKnnRecsFromEdges(
      GraphCF.edges(inter.repartition(7), "user", "item"),
      "user", "item",
      k = 3, scale = 10L).collect().toSet
    assert(a == b)
    spark.catalog.clearCache()
  }

  test("FromEdges entry points equal the raw-log builds (shared edge frame)") {
    // the q168 sharing contract: ONE capped edge frame feeds both models
    val e = GraphCF.edges(inter, "user", "item", maxHistory = 50)
      .persist()
    val p3Shared = GraphCF.p3alphaRecsFromEdges(e, "user", "item",
      k = 3, scale = 10L).collect().toSet
    val p3Direct = GraphCF.p3alphaRecsFromEdges(
      GraphCF.edges(inter, "user", "item"),
      "user", "item",
      k = 3, scale = 10L).collect().toSet
    assert(p3Shared == p3Direct)
    val knnShared = GraphCF.itemKnnRecsFromEdges(e, "user", "item",
      k = 3, scale = 10L).collect().toSet
    val knnDirect = GraphCF.itemKnnRecsFromEdges(
      GraphCF.edges(inter, "user", "item"),
      "user", "item",
      k = 3, scale = 10L).collect().toSet
    assert(knnShared == knnDirect)
    spark.catalog.clearCache()
  }

  test("p3alphaRecsFromStore equals the direct build (split batches)") {
    val dir = java.nio.file.Files.createTempDirectory("edge_store_p3").toString
    // (u1, a)'s two interactions split across batches — fold must merge
    GraphCF.writeEdgeBatch(Seq((1L, "a"), (1L, "b"), (2L, "b"))
      .toDF("user", "item"), "user", "item", dir, 0L)
    GraphCF.writeEdgeBatch(Seq((1L, "a"), (2L, "c"), (3L, "a"))
      .toDF("user", "item"), "user", "item", dir, 1L)
    val got = GraphCF.p3alphaRecsFromEdges(GraphCF.edgesFromStore(spark, dir),
      "user", "item", k = 3, scale = 10L).collect().toSet
    val want = GraphCF.p3alphaRecsFromEdges(
      GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .collect().toSet
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("foldCoDelta trips on a stale oldCo (negative folded co)") {
    // old: u1 {a:3, b:2}, cap 2 holds both -> old capped outer product
    // contains (a, b, 6). delta: u1 gets c three times -> merged
    // {a:3, c:3, b:2}, cap 2 keeps a, c (w=3 ties, id asc) — b EVICTED,
    // so the fold subtracts (a, b, 6) and adds no (a, b) back. A stale
    // oldCo that never held that pair (here: co of an unrelated log)
    // leaves the folded (a, b) at −6 — the tripwire must fire at action.
    val old = (Seq.fill(3)((1L, "a")) ++ Seq.fill(2)((1L, "b")))
      .toDF("user", "item")
    val delta = Seq.fill(3)((1L, "c")).toDF("user", "item")
    val staleCo = GraphCF.coCounts(Seq((9L, "z")).toDF("user", "item"),
      "user", "item", maxHistory = 2) // empty (s1, s2, co) frame
    val ex = intercept[Throwable] {
      GraphCF.foldCoDelta(old, delta, "user", "item", staleCo,
        maxHistory = 2).collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("negative folded co"))
    spark.catalog.clearCache()
  }

  test("foldUserCoDelta equals the one-shot rebuild across both cap boundaries") {
    // maxHistory=2, maxAudience=2. The delta (u1 gets c×3, u2 gets a)
    // exercises BOTH subtle paths: u1's merged history {a:2,b:1,c:3}
    // caps to {c,a} — b EVICTED, so untouched item b's audience changes;
    // u2's merged {a:1,b:1,c:1} caps to {a,b} — c evicted; and item a's
    // merged audience {u1:2,u2:1,u3:1} caps to {u1,u2} — u3 evicted by
    // the audience cut. The fold must still equal the one-shot rebuild
    // bit for bit.
    val old = inter
    val delta = (Seq.fill(3)((1L, "c")) :+ (2L, "a")).toDF("user", "item")
    val oldCo = GraphCF.userCoCounts(old, "user", "item",
      maxHistory = 2, maxAudience = 2)
    val folded = GraphCF.foldUserCoDelta(old, delta, "user", "item", oldCo,
        maxHistory = 2, maxAudience = 2)
      .as[(Long, Long, Long)].collect().toSet
    val rebuilt = GraphCF.userCoCounts(old.unionByName(delta), "user", "item",
        maxHistory = 2, maxAudience = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(folded == rebuilt)
    // and the fold actually changed something (the delta is not a no-op)
    val before = oldCo.as[(Long, Long, Long)].collect().toSet
    assert(folded != before)
    spark.catalog.clearCache()
  }

  test("foldUserCoDelta trips on a stale oldCo (negative folded co)") {
    // old: u1 and u2 share item a -> true old co holds (u1, u2, 1).
    // delta: u1 gets b×2, c×2 -> merged history caps (H=2) to {b, c},
    // EVICTING a — the fold subtracts the (u1, u2) pair via a. A stale
    // oldCo that never held it (co of an unrelated log) nets −1 and the
    // tripwire must fire at action time.
    val old = Seq((1L, "a"), (2L, "a")).toDF("user", "item")
    val delta = (Seq.fill(2)((1L, "b")) ++ Seq.fill(2)((1L, "c")))
      .toDF("user", "item")
    val staleCo = GraphCF.userCoCounts(Seq((9L, "z")).toDF("user", "item"),
      "user", "item", maxHistory = 2) // empty (s1, s2, co) frame
    val ex = intercept[Throwable] {
      GraphCF.foldUserCoDelta(old, delta, "user", "item", staleCo,
        maxHistory = 2).collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("negative folded co"))
    spark.catalog.clearCache()
  }

  test("foldUserCoDelta with a brand-new user on a brand-new item (one-sided walk)") {
    // item z has no old audience, so the signed walk's old side holds no
    // rows for it: z's pairs come from the new side alone. u9 is new too
    // and also lands on the old item a, so both kinds of item fold.
    val delta = Seq((9L, "z"), (9L, "a"), (2L, "z")).toDF("user", "item")
    val oldCo = GraphCF.userCoCounts(inter, "user", "item")
    val folded = GraphCF.foldUserCoDelta(inter, delta, "user", "item", oldCo)
      .as[(Long, Long, Long)].collect().toSet
    val rebuilt = GraphCF.userCoCounts(inter.unionByName(delta), "user", "item")
      .as[(Long, Long, Long)].collect().toSet
    assert(folded == rebuilt)
    assert(folded.contains((2L, 9L, 1L)) && folded.contains((9L, 2L, 1L)))
    spark.catalog.clearCache()
  }

  /** Fold fixture: u1 {a:3, b:2, c:1}, u2 {a, b, d:2}, u3 {b, c, d}
    * (a three-way weight tie), u4 {a}. */
  private val foldLog = (Seq.fill(3)((1L, "a")) ++ Seq.fill(2)((1L, "b")) ++
    Seq((1L, "c"), (2L, "a"), (2L, "b"), (2L, "d"), (2L, "d"),
      (3L, "b"), (3L, "c"), (3L, "d"), (4L, "a"))).toDF("user", "item")

  /** The deltas the fold differential covers: none at all; one that only
    * raises u1's top edge (no rank moves at any cap); and one that evicts
    * at every history boundary — u3 gets e×2 (displacing its last kept
    * tie) and u2 gets c×3 (taking u2's top slot). */
  private val foldDeltas = Seq(
    "empty" -> Seq.empty[(Long, String)].toDF("user", "item"),
    "raise" -> Seq((1L, "a")).toDF("user", "item"),
    "evict" -> (Seq.fill(2)((3L, "e")) ++ Seq.fill(3)((2L, "c")))
      .toDF("user", "item"))

  test("fold differential: both folds == the one-shot rebuild at caps in {1, 2, 3, max}") {
    val caps = Seq(1, 2, 3, Int.MaxValue)
    // every cap on each side, equal and at the two crossed extremes: six
    // (H, A) pairs, not the 16-pair product, to keep the suite's time down
    val pairs = caps.zip(caps) ++ Seq((1, Int.MaxValue), (Int.MaxValue, 1))
    for ((name, delta) <- foldDeltas) {
      val merged = foldLog.unionByName(delta)
      for (h <- caps) {
        val oldCo = GraphCF.coCounts(foldLog, "user", "item", maxHistory = h)
        val item = GraphCF.foldCoDelta(foldLog, delta, "user", "item", oldCo,
          maxHistory = h).as[(String, String, Long)].collect().toSet
        assert(item == GraphCF.coCounts(merged, "user", "item", maxHistory = h)
          .as[(String, String, Long)].collect().toSet, s"item fold: $name H=$h")
      }
      for ((h, a) <- pairs) {
        val oldCo = GraphCF.userCoCounts(foldLog, "user", "item",
          maxHistory = h, maxAudience = a)
        val user = GraphCF.foldUserCoDelta(foldLog, delta, "user", "item",
          oldCo, maxHistory = h, maxAudience = a)
          .as[(Long, Long, Long)].collect().toSet
        assert(user == GraphCF.userCoCounts(merged, "user", "item",
            maxHistory = h, maxAudience = a)
          .as[(Long, Long, Long)].collect().toSet,
          s"user fold: $name H=$h A=$a")
      }
      spark.catalog.clearCache()
    }
  }

  test("folds leave no cache behind and run one SQL execution") {
    val delta = foldDeltas.last._2
    spark.catalog.clearCache()
    // oldCo's own cache (its materialized edge frame) is caller-owned
    val oldCo = GraphCF.coCounts(foldLog, "user", "item", maxHistory = 2)
    val oldUCo = GraphCF.userCoCounts(foldLog, "user", "item",
      maxHistory = 2, maxAudience = 2)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, itemExecs) = org.apache.spark.sql.graft.JobCount.sqlExecutions(spark) {
      GraphCF.foldCoDelta(foldLog, delta, "user", "item", oldCo,
        maxHistory = 2).collect()
    }
    val (_, userExecs) = org.apache.spark.sql.graft.JobCount.sqlExecutions(spark) {
      GraphCF.foldUserCoDelta(foldLog, delta, "user", "item", oldUCo,
        maxHistory = 2, maxAudience = 2).collect()
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"persisted RDDs added by the folds: $added")
    assert(itemExecs == 1, s"foldCoDelta SQL executions: $itemExecs")
    assert(userExecs == 1, s"foldUserCoDelta SQL executions: $userExecs")
    spark.catalog.clearCache()
  }

  test("coCounts / userCoCounts mirror exactly: symmetric, no diagonal, == both-directions aggregate") {
    val log = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "b"), (2L, "d"),
      (3L, "b"), (3L, "c"), (3L, "d"), (4L, "a"), (4L, "d"), (4L, "d"))
      .toDF("user", "item")
    // the plain reference: the self-join kept in BOTH directions, one
    // groupBy(s1, s2), no half and no mirror
    def bothWays(e: org.apache.spark.sql.DataFrame, key: String, s: String) =
      e.select(col(key), col(s).as("s1"), col("w").as("w1"))
        .join(e.select(col(key), col(s).as("s2"), col("w").as("w2")), key)
        .filter($"s1" =!= $"s2")
        .groupBy($"s1", $"s2").agg(sum($"w1" * $"w2").as("co"))
    def assertMirror[T](got: Seq[(T, T, Long)], ref: Seq[(T, T, Long)]) = {
      assert(got.nonEmpty)
      assert(got.size == got.toSet.size) // each pair exactly once
      assert(got.toSet == ref.toSet)
      assert(got.forall { case (a, b, _) => a != b })
      val m = got.map { case (a, b, c) => (a, b) -> c }.toMap
      assert(got.forall { case (a, b, c) => m.get((b, a)).contains(c) })
    }
    assertMirror(
      GraphCF.coCounts(log, "user", "item", maxHistory = 2)
        .as[(String, String, Long)].collect().toSeq,
      bothWays(GraphCF.edges(log, "user", "item", maxHistory = 2), "u", "i")
        .as[(String, String, Long)].collect().toSeq)
    assertMirror(
      GraphCF.userCoCounts(log, "user", "item")
        .as[(Long, Long, Long)].collect().toSeq,
      bothWays(GraphCF.edges(log, "user", "item"), "i", "u")
        .as[(Long, Long, Long)].collect().toSeq)
    spark.catalog.clearCache()
  }

  test("coCounts leaves one cache entry, the capped edge frame; the mirror holds none") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GraphCF.coCounts(inter, "user", "item", maxHistory = 2).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"persisted RDDs added: $added")
    // ... and it is the capped edge frame (same plan, so the cache serves it)
    assert(GraphCF.edges(inter, "user", "item", maxHistory = 2).storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    spark.catalog.clearCache()
  }

  test("cosineSimQ refuses scale past the exactness budget") {
    // scale ~2^33 with norm^2 near 2^31 would wrap maxNrm*scale negative
    // and slip past the budget check — the require must refuse up front
    val co = Seq(("a", "b", 1L)).toDF("s1", "s2", "co")
    val nrm = Seq(("a", 5L), ("b", 2L)).toDF("i", "nrm")
    val e = intercept[IllegalArgumentException] {
      GraphCF.cosineSimQ(co, nrm, scale = 1L << 33)
    }
    assert(e.getMessage.contains("10^6"))
    // and the serving path inherits the same refusal
    val e2 = intercept[IllegalArgumentException] {
      GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
        "user", "item", k = 1, scale = 1L << 33)
    }
    assert(e2.getMessage.contains("10^6"))
    spark.catalog.clearCache()
  }

  test("popularityRecs: bounded pool equals the full users x catalog ranking") {
    // 6 users with histories engineered so some users have SEEN several of
    // the globally most popular items — exactly the case where a pool cut
    // of less than k+maxSeen would go wrong
    val log = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "c"), (3L, "d"),
      (4L, "e"),
      (5L, "a"), (5L, "b"), (5L, "c"), (5L, "d"), (5L, "e"),
      (6L, "f")).toDF("user", "item")
    val got = GraphCF.popularityRecs(log, "user", "item", k = 2)
      .select($"user", $"item", $"rnk").as[(Long, String, Long)]
      .collect().toSet
    // brute force: pop over aggregated edges, full cross, anti-join, rank
    val e = GraphCF.edges(log, "user", "item")
    val pop = e.groupBy($"i").agg(sum($"w").as("pop"))
    val brute = e.select($"u").distinct().crossJoin(pop)
      .join(e.select($"u", $"i"), Seq("u", "i"), "left_anti")
    val exp = graft.ops.Relational.topKPerGroup(brute, Seq($"u"),
        Seq($"pop".desc, $"i"), 2, rankName = "rnk")
      .select($"u", $"i", $"rnk").as[(Long, String, Long)].collect().toSet
    assert(got == exp)
    // u5 saw a..e (the 5 most popular): their list must reach into f-land
    assert(got.contains((5L, "f", 1L)))
    spark.catalog.clearCache()
  }

  test("popularityRecs ranks by popularity desc with item-id tie-break") {
    val log = Seq((1L, "x"), (2L, "x"), (2L, "y"), (3L, "z"))
      .toDF("user", "item")
    // pop: x=2, y=1, z=1; u3 (saw z) -> x rank1, y rank2
    val got = GraphCF.popularityRecs(log, "user", "item", k = 2)
      .filter($"user" === 3L)
      .select($"item", $"rnk").as[(String, Long)].collect().toSet
    assert(got == Set(("x", 1L), ("y", 2L)))
    spark.catalog.clearCache()
  }

  test("userKnnRecs matches the hand-computed quantized cosine") {
    // user vectors: u1 = {a:2, b:1}, u2 = {b:1, c:1}, u3 = {a:1}
    // norms: u1=5, u2=2, u3=1; co: (u1,u3)=2 via a, (u1,u2)=1 via b
    // scale 10: q(u1,u3) = floor(20/sqrt(5)) = 8, q(u1,u2) = floor(10/sqrt(10)) = 3
    // scores: u1 <- 8*u3 + 3*u2: unseen c = 3; u2 <- 3*u1: unseen a = 6;
    //         u3 <- 8*u1: unseen b = 8
    val got = GraphCF.userKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .select($"user", $"item", $"score", $"rnk")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set((1L, "c", 3L, 1L), (2L, "a", 6L, 1L), (3L, "b", 8L, 1L)))
    spark.catalog.clearCache()
  }

  test("userKnnRecs: big-cohort shuffle mode is bit-identical to broadcast") {
    // padding past broadcastKeys distinct users makes the similarity and
    // norm joins shuffle; each pad user holds ONE fresh item, so it has
    // no co-user and earns no recs
    val pad = (1L to GraphCF.broadcastKeys + 1L)
      .map(n => (-n, s"pad$n")).toDF("user", "item")
    val big = GraphCF.edges(inter.union(pad), "user", "item")
    assert(big.select($"u").distinct().count() > GraphCF.broadcastKeys)
    val a = GraphCF.userKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
        "user", "item", k = 3, scale = 10L)
      .collect().map(_.toSeq).toSet
    val b = GraphCF.userKnnRecsFromEdges(big, "user", "item", k = 3,
        scale = 10L)
      .filter($"user" > 0L).collect().map(_.toSeq).toSet
    assert(a == b)
    spark.catalog.clearCache()
  }

  test("userKnnRecsFromStore / FromEdges equal the direct build") {
    val dir = java.nio.file.Files.createTempDirectory("uknn_store").toString
    (0L until 3L).foreach { b =>
      GraphCF.writeEdgeBatch(
        inter.filter(pmod(xxhash64($"user", $"item"), lit(3L)) === b),
        "user", "item", dir, b)
    }
    val direct = GraphCF.userKnnRecsFromEdges(
      GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .collect().map(_.toSeq).toSet
    val fromStore = GraphCF.userKnnRecsFromEdges(
        GraphCF.edgesFromStore(spark, dir), "user", "item",
        k = 3, scale = 10L)
      .collect().map(_.toSeq).toSet
    val fromEdges = GraphCF.userKnnRecsFromEdges(
        GraphCF.edges(inter, "user", "item"), "user", "item",
        k = 3, scale = 10L)
      .collect().map(_.toSeq).toSet
    assert(fromStore == direct && fromEdges == direct)
    spark.catalog.clearCache()
  }

  test("userKnnRecs maxAudience cuts each item's audience by (w desc, u)") {
    // a's audience: u1(w=3), u2(w=1), u3(w=1). Cap 2 keeps u1 and u2
    // (tie w=1 breaks to the smaller user id) and drops u3 — severing
    // the only u1~u3 link, so u1 no longer receives u3's unique item c
    val log = Seq(
      (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c")).toDF("user", "item")
    val full = GraphCF.userKnnRecsFromEdges(GraphCF.edges(log, "user", "item"),
      "user", "item", k = 3, scale = 10L)
      .select($"user", $"item").as[(Long, String)].collect().toSet
    assert(full.contains((1L, "c")))
    val capped = GraphCF.userKnnRecsFromEdges(
      GraphCF.edges(log, "user", "item"),
      "user", "item", k = 3, scale = 10L,
        maxAudience = 2)
      .select($"user", $"item").as[(Long, String)].collect().toSet
    assert(!capped.contains((1L, "c")))
    assert(capped.contains((1L, "b"))) // the surviving u1~u2 edge still votes
    spark.catalog.clearCache()
  }

  test("rrfFuse matches the hand-computed reciprocal-rank sums") {
    // contributions at rrfK=60: rank1 -> 1000000 div 61 = 16393,
    // rank2 -> 1000000 div 62 = 16129
    val listA = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("user", "item", "rnk")
    val listB = Seq((1L, "b", 1L), (1L, "c", 2L)).toDF("user", "item", "rnk")
    val got = GraphCF.rrfFuse(Seq(listA, listB), "user", "item", "rnk", k = 2)
      .select($"user", $"item", $"rrf_q", $"rnk")
      .as[(Long, String, Long, Long)].collect().toSet
    // b = 16129 + 16393 = 32522 (both lists), a = 16393, c = 16129
    assert(got == Set((1L, "b", 32522L, 1L), (1L, "a", 16393L, 2L)))
  }

  test("rrfFuse breaks score ties to the smallest item id; rejects <2 lists") {
    val la = Seq((1L, "b", 1L)).toDF("user", "item", "rnk")
    val lb = Seq((1L, "a", 1L)).toDF("user", "item", "rnk")
    val got = GraphCF.rrfFuse(Seq(la, lb), "user", "item", "rnk", k = 2)
      .select($"item", $"rnk").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L), ("b", 2L))) // equal 16393 mass -> id order
    intercept[IllegalArgumentException] {
      GraphCF.rrfFuse(Seq(la), "user", "item", "rnk", k = 2)
    }
  }

  /** Markov fixture — basket ids deliberately NON-monotonic with time so
    * the index provably follows the time column:
    *   u1: t1 basket9 {a,b}, t2 basket5 {b,c}, t3 basket2 {a}
    *   u2: t1 basket4 {a},   t2 basket7 {c}
    * Transitions: 9→5 gives (a,b)(a,c)(b,b)(b,c); 5→2 gives (b,a)(c,a);
    * 4→7 gives (a,c). Counts: (a,c)=2, the rest 1. */
  private val basketLog = Seq(
    (1L, 9L, 1L, "a"), (1L, 9L, 1L, "b"),
    (1L, 5L, 2L, "b"), (1L, 5L, 2L, "c"),
    (1L, 2L, 3L, "a"),
    (2L, 4L, 1L, "a"),
    (2L, 7L, 2L, "c"))
    .toDF("user", "bsk", "ts", "item")

  test("basketTransitions matches the hand-computed consecutive-pair counts") {
    val got = GraphCF.basketTransitions(basketLog, "user", "bsk", "ts", "item")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("a", "b", 1L), ("a", "c", 2L), ("b", "b", 1L), ("b", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L)))
  }

  test("markovRecs serves from the last basket, repurchases allowed") {
    val got = GraphCF.markovRecs(basketLog, "user", "bsk", "ts", "item",
        k = 3)
      .select($"user", $"item", $"score", $"rnk")
      .as[(Long, String, Long, Long)].collect().toSet
    // u1's last basket (t3) = {a}: next c=2, b=1 — c is a REPURCHASE
    // (u1 saw c at t2); u2's last basket = {c}: next a=1
    assert(got == Set(
      (1L, "c", 2L, 1L), (1L, "b", 1L, 2L),
      (2L, "a", 1L, 1L)))
  }

  test("markovRecs maxBasket cap cuts by (multiplicity desc, item id)") {
    // basket {a,a,b} capped at 1 keeps a (w=2) and drops b, so the b→c
    // transition never exists
    val log = Seq(
      (1L, 1L, 1L, "a"), (1L, 1L, 1L, "a"), (1L, 1L, 1L, "b"),
      (1L, 2L, 2L, "c")).toDF("user", "bsk", "ts", "item")
    val full = GraphCF.basketTransitions(log, "user", "bsk", "ts", "item")
      .as[(String, String, Long)].collect().toSet
    assert(full == Set(("a", "c", 1L), ("b", "c", 1L)))
    val capped = GraphCF.basketTransitions(log, "user", "bsk", "ts", "item",
        maxBasket = 1)
      .as[(String, String, Long)].collect().toSet
    assert(capped == Set(("a", "c", 1L)))
  }

  test("markovRecsFromStore over user-sharded batches equals the direct build") {
    val dir = java.nio.file.Files.createTempDirectory("markov_store").toString
    (0L until 2L).foreach { b =>
      GraphCF.writeTransitionBatch(
        basketLog.filter(pmod($"user", lit(2L)) === b),
        "user", "bsk", "ts", "item", maxBasket = Int.MaxValue, dir, b)
    }
    val direct = GraphCF.markovRecs(basketLog, "user", "bsk", "ts", "item",
      k = 3).collect().map(_.toSeq).toSet
    val fromStore = GraphCF.markovRecsFromStore(spark, dir, basketLog,
      "user", "bsk", "ts", "item", k = 3).collect().map(_.toSeq).toSet
    assert(fromStore == direct)
    spark.catalog.clearCache()
  }

  test("markov shuffle mode (many prev items) is bit-identical to broadcast") {
    // each pad user buys two single-item baskets of fresh items: one
    // fresh `prev` per pad user (past broadcastKeys in total, so the
    // serving join shuffles), and its last item has no successor, so it
    // earns no recs
    val pad = (1L to GraphCF.broadcastKeys + 1L)
      .flatMap(n => Seq((-n, 1L, 1L, s"pad${n}a"), (-n, 2L, 2L, s"pad${n}b")))
      .toDF("user", "bsk", "ts", "item")
    val big = basketLog.union(pad)
    assert(GraphCF.basketTransitions(big, "user", "bsk", "ts", "item")
      .select($"prev").distinct().count() > GraphCF.broadcastKeys)
    val bc = GraphCF.markovRecs(basketLog, "user", "bsk", "ts", "item", k = 3)
      .collect().map(_.toSeq).toSet
    val sh = GraphCF.markovRecs(big, "user", "bsk", "ts", "item", k = 3)
      .filter($"user" > 0L).collect().map(_.toSeq).toSet
    assert(bc == sh)
    spark.catalog.clearCache()
  }

  test("similarItems matches the hand-computed cosine frame; store == direct") {
    // norms: a=5, b=2, c=1; co: (a,b)=2, (b,c)=1 →
    // q(a,b)=floor(20/√10)=6, q(b,c)=floor(10/√2)=7 (symmetric)
    val got = GraphCF.similarItems(GraphCF.edges(inter, "user", "item"),
        neighbors = 2, scale = 10L)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", "b", 6L, 1L),
      ("b", "c", 7L, 1L), ("b", "a", 6L, 2L),
      ("c", "b", 7L, 1L)))
    val dir = java.nio.file.Files.createTempDirectory("sim_store").toString
    (0L until 2L).foreach { b =>
      GraphCF.writeEdgeBatch(
        inter.filter(pmod(xxhash64($"user", $"item"), lit(2L)) === b),
        "user", "item", dir, b)
    }
    val fromStore = GraphCF.similarItems(GraphCF.edgesFromStore(spark, dir),
        neighbors = 2, scale = 10L)
      .as[(String, String, Long, Long)].collect().toSet
    assert(fromStore == got)
    spark.catalog.clearCache()
  }

  test("edgesWeighted: weighted sums drive the history cut; non-positive weights refused") {
    // u1: a carries weight 4, b carries 1+2=3 — cap 1 keeps a by the
    // WEIGHTED mass (plain edges would see counts a=1, b=2 and keep b)
    val log = Seq((1L, "a", 4L), (1L, "b", 1L), (1L, "b", 2L))
      .toDF("user", "item", "wt")
    val full = GraphCF.edgesWeighted(log, "user", "item", "wt")
      .as[(Long, String, Long)].collect().toSet
    assert(full == Set((1L, "a", 4L), (1L, "b", 3L)))
    val capped = GraphCF.edgesWeighted(log, "user", "item", "wt",
        maxHistory = 1)
      .as[(Long, String, Long)].collect().toSet
    assert(capped == Set((1L, "a", 4L)))
    val plainCap = GraphCF.edges(log, "user", "item", maxHistory = 1)
      .as[(Long, String, Long)].collect().toSet
    assert(plainCap == Set((1L, "b", 2L))) // the count cut differs, by design
    val bad = Seq((1L, "a", 0L)).toDF("user", "item", "wt")
    val e = intercept[Exception] {
      GraphCF.edgesWeighted(bad, "user", "item", "wt").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-positive"))
  }

  test("itemKnnRecs neighborhood truncation drops the weaker similarity edge") {
    // neighbors=1 keeps only each item's single strongest edge:
    // b's strongest is c (q=7 beats a's 6), so b→a leaves the matrix and
    // u2 (items b,c) can no longer reach a — u2 gets no recommendations
    val got = GraphCF.itemKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L,
        neighbors = 1)
      .select($"user", $"item").as[(Long, String)].collect().toSet
    assert(!got.contains((2L, "a")))
    assert(got.contains((1L, "c"))) // c's only (and thus top-1) edge is b
    spark.catalog.clearCache()
  }

  test("liftRules matches the hand-computed support/confidence/lift table") {
    // baskets: b1{a,b,c} b2{a,b} b3{a,c} b4{b} b5{a}; N=5
    // s(a)=4 s(b)=3 s(c)=2; pairs >= 2: (a,b)=2, (a,c)=2 (+mirrors);
    // (b,c)=1 drops. scale 100:
    //   conf(a->b)=floor(200/4)=50   lift=floor(100*5*2/(4*3))=83
    //   conf(b->a)=floor(200/3)=66   lift=83
    //   conf(a->c)=50                lift=floor(1000/8)=125
    //   conf(c->a)=floor(200/2)=100  lift=125
    // per-ante order by (lift desc, cons): a -> [c, b]
    val log = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "b"),
      (5L, "a")).toDF("bsk", "item")
    val got = GraphCF.liftRules(log, "bsk", "item", minSupport = 2L,
        k = 5, scale = 100L)
      .select($"ante", $"cons", $"pair_n", $"ante_n", $"cons_n",
        $"conf_q", $"lift_q", $"rnk")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(got == Set(
      ("a", "c", 2L, 4L, 2L, 50L, 125L, 1L),
      ("a", "b", 2L, 4L, 3L, 50L, 83L, 2L),
      ("b", "a", 2L, 3L, 4L, 66L, 83L, 1L),
      ("c", "a", 2L, 2L, 4L, 100L, 125L, 1L)))
    spark.catalog.clearCache()
  }

  test("liftRules: Apriori prune, basket cap, and the budget guard") {
    // item d appears once (< minSupport 2): no rule may contain it even
    // though it co-occurs with a — the prune must fire BEFORE pairing
    val log = Seq((1L, "a"), (1L, "d"), (2L, "a"), (2L, "b"), (3L, "a"),
      (3L, "b")).toDF("bsk", "item")
    val got = GraphCF.liftRules(log, "bsk", "item", minSupport = 2L,
        k = 5, scale = 100L)
      .select($"ante", $"cons").as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("b", "a")))
    // basket {a,a,b} capped at 1 keeps a (the Markov-family cut): the
    // (a,b) pair never exists
    val capLog = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
      .toDF("bsk", "item")
    val capped = GraphCF.liftRules(capLog, "bsk", "item", minSupport = 1L,
        maxBasket = 1, k = 5, scale = 100L)
      .select($"ante", $"cons").as[(String, String)].collect().toSet
    assert(capped.isEmpty) // b1 reduces to {a}, b2 keeps only a
    // the scale*N*max(s) budget guard refuses up front
    val ex = intercept[IllegalArgumentException] {
      GraphCF.liftRules(log, "bsk", "item", minSupport = 2L, k = 5,
        scale = 7L)
    }
    assert(ex.getMessage.contains("[10, 10^6]"))
    spark.catalog.clearCache()
  }

  test("liftRulesFromStore over basket-sharded batches equals the direct build") {
    val dir = java.nio.file.Files.createTempDirectory("rule_store").toString
    val log = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "b"),
      (5L, "a")).toDF("bsk", "item")
    // basket-sharded mod-2 batches: item 'a' is below minSupport WITHIN
    // batch 0 (baskets 2,4 — one occurrence) but frequent globally; the
    // store keeps unpruned partials and prunes at serve time, which is
    // exactly what makes the fold bit-equal to the one-shot build
    (0L until 2L).foreach { bt =>
      GraphCF.writeRuleStatsBatch(log.filter(pmod($"bsk", lit(2L)) === bt),
        "bsk", "item", Int.MaxValue, dir, bt)
    }
    val direct = GraphCF.liftRules(log, "bsk", "item", minSupport = 2L,
      k = 5, scale = 100L).collect().map(_.toSeq).toSet
    val fromStore = GraphCF.liftRulesFromStore(spark, dir, minSupport = 2L,
      k = 5, scale = 100L).collect().map(_.toSeq).toSet
    assert(fromStore == direct && direct.nonEmpty)
    spark.catalog.clearCache()
  }

  test("served-and-released leaves no orphan cache entry (cache-lifetime contract)") {
    // the lazy-return serving APIs persist internal frames that must stay
    // cached until the result materializes; the documented release path
    // (spark.catalog.clearCache() after materialization — USAGE.md) must
    // drain EVERY entry, or a long-lived service leaks one per call
    spark.catalog.clearCache()
    GraphCF.similarItems(GraphCF.edges(inter, "user", "item"),
      neighbors = 2, scale = 10L).collect()
    GraphCF.userKnnRecsFromEdges(GraphCF.edges(inter, "user", "item"),
      "user", "item", k = 3, scale = 10L).collect()
    GraphCF.markovRecs(basketLog, "user", "bsk", "ts", "item", k = 3)
      .collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // served: cached
    spark.catalog.clearCache()
    // clearCache unpersists through the CacheManager; drain is async-safe
    val deadline = System.nanoTime() + 10000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
