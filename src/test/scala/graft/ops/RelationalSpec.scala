package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class RelationalSpec extends SparkTestBase {
  import spark.implicits._

  test("denseReindex is an order-preserving bijection onto 0..N-1") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000))
    (0 until 5).foreach { i =>
      val ids = gen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val df = ids.toDF("id")
      val out = Relational.denseReindex(df, "id", "idx")
        .orderBy("idx").collect().map(r => (r.getInt(0), r.getLong(1)))
      val distinctSorted = ids.distinct.sorted
      assert(out.map(_._1).toSeq == distinctSorted)
      assert(out.map(_._2).toSeq == distinctSorted.indices.map(_.toLong))
    }
  }

  test("denseReindexHuge equals the window form on any input and partitioning") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000))
    (0 until 5).foreach { i =>
      val ids = gen.apply(Gen.Parameters.default, Seed(100 + i.toLong)).get
      val df = ids.toDF("id").repartition(1 + i * 3) // vary input layout
      val window = Relational.denseReindex(df, "id", "idx")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val huge = Relational.denseReindexHuge(df, "id", "idx",
          numPartitions = 1 + (i % 4))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(huge == window, s"seed $i")
    }
  }

  test("topKPerGroup agrees with sort-then-take per group") {
    val rows = Seq((1, 10.0, "a"), (1, 30.0, "b"), (1, 20.0, "c"), (1, 30.0, "d"),
      (2, 5.0, "e"), (2, 7.0, "f"))
    val df = rows.toDF("g", "score", "id")
    val got = Relational.topKPerGroup(df, Seq(col("g")),
      Seq(col("score").desc, col("id").asc), 2)
      .select("g", "id").as[(Int, String)].collect().toSet
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(2).map(r => (g, r._3))
    }.toSet
    assert(got == expected)
  }

  test("relativeFreq sums to 1 and matches manual counts") {
    val df = Seq("a", "a", "b", "c", "c", "c").toDF("k")
    val m = Relational.relativeFreq(df, "k").as[(String, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(m("a")._2 == 2 && m("b")._2 == 1 && m("c")._2 == 3)
    assert(math.abs(m.values.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(m("c")._3 - 0.5) < 1e-9)
  }

  test("freqOfFreq counts degree distribution") {
    val df = Seq(1, 1, 1, 2, 2, 3).toDF("user")
    val m = Relational.freqOfFreq(df, "user", "deg", "n")
      .as[(Long, Long)].collect().toMap
    assert(m == Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
  }

  test("runningSum reconstructs CSR-style offsets") {
    val df = Seq((1, 1, 10.0), (1, 2, 5.0), (1, 3, 1.0), (2, 1, 2.0))
      .toDF("g", "ord", "v")
    val out = Relational.runningSum(df, "g", "ord", "v", "rt")
      .orderBy("g", "ord").select("rt").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 15.0, 16.0, 2.0))
  }

  test("equalizeGroups keeps min-group-size rows per group, deterministically") {
    val df = (1 to 10).map(i => (i, "big")).++(Seq((11, "small"), (12, "small"), (13, "small")))
      .toDF("id", "g")
    val out = Relational.equalizeGroups(df, "g", "id")
    val sizes = out.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(sizes == Map("big" -> 3L, "small" -> 3L))
    // deterministic: first ids by order
    assert(out.filter($"g" === "big").select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("sessionize splits on gaps greater than the threshold") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq((1L, 1L, ts(0)), (1L, 2L, ts(100)), (1L, 3L, ts(2000)),
      (2L, 4L, ts(0))).toDF("user_id", "ts0", "x")
      .select(col("user_id"), col("ts0").as("event_id"), col("x").as("ts"))
    val out = Relational.sessionize(df, "user_id", "ts", "event_id", 1800.0)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 1 && out(4L) == 0)
  }

  test("pivotCounts widens counts with zero-fill and drops undeclared categories") {
    val df = Seq(("d1", "a"), ("d1", "a"), ("d1", "b"), ("d2", "b"),
      ("d2", "zzz")).toDF("day", "cat")
    val out = Relational.pivotCounts(df, col("day"), "day", "cat", Seq("a", "b", "c"))
      .orderBy("day").as[(String, Long, Long, Long)].collect().toSeq
    // zzz is not a declared category: its rows vanish rather than adding a column
    assert(out == Seq(("d1", 2L, 1L, 0L), ("d2", 0L, 1L, 0L)))
    // a duplicated category would produce two identically-named columns
    intercept[IllegalArgumentException] {
      Relational.pivotCounts(df, col("day"), "day", "cat", Seq("a", "b", "a"))
    }
  }

  test("groupZScore matches hand stats and nulls degenerate groups") {
    val df = Seq(("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
      ("g2", 5.0), // n = 1: stddev_samp undefined
      ("g3", 4.0), ("g3", 4.0)) // zero variance
      .toDF("k", "v")
    val out = Relational.groupZScore(df, Seq("k"), col("v"))
      .select(col("k"), col("v"), col("z"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(math.abs(out(("g1", 1.0)).get - (-1.0)) < 1e-12) // sd = 1.0, mean = 2
    assert(math.abs(out(("g1", 3.0)).get - 1.0) < 1e-12)
    assert(out(("g2", 5.0)).isEmpty)
    assert(out(("g3", 4.0)).isEmpty)
  }

  test("winsorize clamps to exact group percentiles and leaves interior values alone") {
    // 11 values 0..10 in one group: p05 = 0.5, p95 = 9.5 (continuous interp)
    val df = (0 to 10).map(i => ("g", i.toLong, i.toDouble)).toDF("k", "id", "v")
    val out = Relational.winsorize(df, Seq("k"), col("v"), 0.05, 0.95)
      .select("id", "winsorized").as[(Long, Double)].collect().toMap
    assert(out(0L) == 0.5)   // clamped up
    assert(out(10L) == 9.5)  // clamped down
    assert((1L to 9L).forall(i => out(i) == i.toDouble)) // untouched
  }

  test("winsorize and groupZScore keep null-key rows in their own group (null-safe join)") {
    // null-key rows form a groupBy group; the join-back must match it,
    // not silently drop the rows (the plain equi-join behavior)
    val df = Seq((Some("g"), 1L, 1.0), (Some("g"), 2L, 2.0), (Some("g"), 3L, 3.0),
      (None: Option[String], 4L, 10.0), (None, 5L, 20.0), (None, 6L, 30.0))
      .toDF("k", "id", "v")
    val win = Relational.winsorize(df, Seq("k"), col("v"), 0.25, 0.75)
      .select("id", "winsorized").as[(Long, Double)].collect().toMap
    assert(win.size == 6) // nothing dropped
    assert(win(4L) == 15.0 && win(6L) == 25.0) // clamped within the NULL group
    assert(win(5L) == 20.0)
    val z = Relational.groupZScore(df, Seq("k"), col("v"))
      .select("id", "z").as[(Long, Double)].collect().toMap
    assert(z.size == 6)
    assert(math.abs(z(4L) - (-1.0)) < 1e-12) // mean 20, sd 10 within NULL group
    assert(math.abs(z(6L) - 1.0) < 1e-12)
  }

  test("upsert: update rows win wholesale, unmatched rows from both sides survive") {
    val base = Seq((1L, Some("a"), 10), (2L, Some("b"), 20), (3L, Some("c"), 30))
      .toDF("k", "name", "v")
    val updates = Seq(
      (2L, None: Option[String], 99), // updates k=2, legitimately nulling name
      (9L, Some("new"), 1))           // brand-new key
      .toDF("k", "name", "v")
    val out = Relational.upsert(base, updates, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)), r.getInt(2))).toMap
    assert(out == Map(
      1L -> (("a", 10)), 2L -> ((null, 99)), 3L -> (("c", 30)), 9L -> (("new", 1))))
    // mismatched schemas are rejected, not silently merged
    intercept[IllegalArgumentException] {
      Relational.upsert(base, updates.drop("v"), Seq("k"))
    }
    // null keys are null-SAFE: a null-keyed update matches the null-keyed
    // base row and wins (presence flag, not key-nullness, marks the match)
    val baseN = Seq((Some(1L), "a", 10), (None: Option[Long], "b", 20))
      .toDF("k", "name", "v")
    val updN = Seq((None: Option[Long], "B2", 99)).toDF("k", "name", "v")
    val outN = Relational.upsert(baseN, updN, Seq("k"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getString(1), r.getInt(2)))).toMap
    assert(outN == Map(1L -> (("a", 10)), -1L -> (("B2", 99))))
  }

  test("funnelSteps counts sessions per step with strict event-time ordering") {
    def ts(sec: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000)
    val rows = Seq(
      // user 1: full funnel in one session
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(10), "click"), (1L, 3L, ts(20), "purchase"),
      // user 2: click without a view — reaches nothing
      (2L, 4L, ts(0), "click"),
      // user 3: view and click at the SAME microsecond — tie does not advance
      (3L, 5L, ts(0), "view"), (3L, 6L, ts(0), "click"),
      // user 4: view then purchase, no click — stops after view
      (4L, 7L, ts(0), "view"), (4L, 8L, ts(30), "purchase"),
      // user 1 again, NEW session (gap > 60s): view only
      (1L, 9L, ts(300), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val r = Relational.funnelSteps(rows, "user_id", "ts", "event_id",
        "event_type", gapSeconds = 60.0, Seq("view", "click", "purchase"))
      .as[(Long, Long, Long, Long)].head()
    // sessions: u1-s0, u1-s1, u2, u3, u4 = 5; views: all but u2 = 4;
    // view->click: u1-s0 only; full funnel: u1-s0 only
    assert(r == ((5L, 4L, 1L, 1L)))
  }

  test("resample densifies gaps, forward-fills, and picks the last value per bin") {
    def ts(sec: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000)
    // key "a": bins 0 (two events — later one wins), 1 empty (gap), 2
    // key "b": single bin — no gaps, no fill
    val df = Seq(
      ("a", ts(10), 1L, 5.0), ("a", ts(20), 2L, 7.0),
      ("a", ts(125), 3L, 9.0),
      ("b", ts(70), 4L, 2.0))
      .toDF("k", "ts", "id", "v")
    val base = ts(0).getTime / 1000L / 60L // bin of the epoch base, JVM-TZ-proof
    val out = Relational.resample(df, "k", "ts", "id", "v", intervalSec = 60L)
      .select(col("k"), col("bin") - lit(base), col("n_events"),
        col("filled_value"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("a", 0L, 2L, 7.0),  // last of the two bin-0 events
      ("a", 1L, 0L, 7.0),  // gap bin forward-filled
      ("a", 2L, 1L, 9.0),
      ("b", 1L, 1L, 2.0)))
  }

  test("globalCumBelow equals the brute-force strictly-below sum") {
    // 40 distinct keys, deliberately unsorted, spread over 7 buckets so
    // several bucket boundaries land mid-sequence; result must be
    // bucket-boundary-independent
    val rows = Seq.tabulate(40)(i => ((i * 17 % 40).toDouble, (i % 5 + 1).toLong))
    val ref = rows.map { case (k, _) =>
      k -> rows.filter(_._1 < k).map(_._2).sum
    }.toMap
    for (buckets <- Seq(1, 7, 100)) {
      val got = Relational.globalCumBelow(rows.toDF("k", "w"), "k", "w",
          "below", buckets)
        .select(col("k"), col("below")).as[(Double, Long)].collect().toMap
      assert(got == ref, s"buckets=$buckets")
    }
  }

  test("globalCumBelow's only unpartitioned window reads at most `buckets` rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // the final adaptive plan, descending into materialized query stages
    def expand(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case other => other.children.flatMap(expand)
    })
    // rows a node receives: the output count of the nearest counting node
    def rowsInto(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
      case Some(m) => m.value
      case None => p match {
        case q: QueryStageExec => rowsInto(q.plan)
        case other => other.children.map(rowsInto).sum
      }
    }
    val buckets = 6
    val out = Relational.globalCumBelow(
      spark.range(3000).select(col("id").cast("double").as("k"),
        (col("id") % 7).as("w")), "k", "w", "below", buckets)
    assert(out.collect().length == 3000)
    val global = expand(out.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.nonEmpty)
    for (w <- global)
      assert(rowsInto(w.child) <= buckets, w.treeString)
  }
}
