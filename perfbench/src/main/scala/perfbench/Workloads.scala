package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.{AlsBias, DsgdBpr, Metrics, Trace}
import graft.ops.GraphCF

/** One timed unit: a declared query, one phase of a store op, or one trainer
  * call. `kind` is `op`, `write` or `read`; `family` names the module the
  * step exercises. A step that returns a frame is materialized by its digest;
  * when `checked`, the digest is the op's output check. */
final case class Step(name: String, kind: String, family: String,
                      run: Run => Option[DataFrame], checked: Boolean = true)

/** A unit of the op order: the seed permutes ops, steps keep their order. */
final case class Op(name: String, steps: Seq[Step])

/** What a step sees of the run: the session, the input directory, the run's
  * own scratch directory, and hooks for layer timings and train checks. */
trait Run {
  def spark: SparkSession
  def data: String
  def work: String
  def checkPass: Boolean
  /** Records one sample of a layer timing, e.g. an ALS sweep interval. */
  def sample(metric: String, value: Double): Unit
  /** Records a scalar output of the check pass (train metrics). */
  def checkValue(name: String, value: Double): Unit
  /** Moves the current thread's later Spark jobs into a sub-group. */
  def subGroup(suffix: String): Unit
}

object Workloads {
  private def query(name: String, family: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, Seq(Step(name, "op", family, r => Some(fn(r.spark, r.data)))))
  }

  /** CF read queries whose cost is the co-walk: the user-item edge list
    * self-joined into item pairs (on user) or user pairs (on item),
    * aggregated and cut to top-k. q199 also folds a delta into the pairs. */
  val cfCowalk: Seq[String] = Seq("q163_itemknn_recs", "q184_userknn_recs",
    "q199_incremental_userco")

  /** The CF edge store op: its build runs the co-walk input, its probe reads
    * the store back into ItemKNN. */
  val cfStores: Seq[String] = Seq("q173_store_recs")

  /** A spread of the relational, window and stats ops of
    * `Queries.relational`: scans, aggregates, joins, windows, stats and
    * event analytics. */
  val relational: Seq[String] = Seq("q01_scan_project", "q07_having_count",
    "q16_running_sum", "q19_rank_lag", "q20_join_revenue_per_nation",
    "q22_semi_join", "q31_group_equalize", "q36_sessionize", "q77_zscore",
    "q85_correlation", "q94_event_paths")

  /** Text ops (Dedup/Terms/TextOps) that take well under a second and
    * belong to no other workload. */
  val text: Seq[String] = Seq("q40_dedup_exact", "q41_fingerprint",
    "q47_lang_id", "q89_term_search")

  /** Phased store ops outside CF: vector (quantized IVF), BM25 and keyed
    * (upsert, delete, compact) stores. */
  val stores: Seq[String] = Seq("q115_quantized_ivf", "q131_bm25_store",
    "q148_keyed_upsert")

  private def phased(name: String): Op = {
    val phases = SparkEntry.queryPhases(name)
    val last = phases.size - 1
    Op(name, phases.zipWithIndex.map { case ((phase, fn), i) =>
      val kind = if (phase == "probe") "read" else "write"
      Step(s"$name.$phase", kind, "Stores", r => fn(r.spark, r.data),
        checked = i == last)
    })
  }

  /** Train loop sizes: movies in the corpus, ALS sweeps and DSGD epochs per
    * fit, and users sampled by the P@k eval. */
  final case class TrainShape(items: Int, sweeps: Int, epochs: Int, evalUsers: Int)
  object TrainShape {
    def parse(s: String): TrainShape = {
      val Array(items, sweeps, epochs, evalUsers) = s.split(",").map(_.trim.toInt)
      TrainShape(items, sweeps, epochs, evalUsers)
    }
  }

  private def ratings(r: Run): DataFrame =
    r.spark.read.parquet(s"${r.data}/ratings.parquet")
  private def positives(r: Run): DataFrame =
    ratings(r).filter(col("rating") >= 4.0).select(col("user"), col("movie"))

  private def alsFit(trainShape: TrainShape) = Step("als_fit", "op", "AlsBias", r => {
    val p = AlsBias.Params(rank = 12, maxIter = trainShape.sweeps, tol = 0.0, seed = 42L)
    val t0 = System.nanoTime()
    var last = t0
    val cfg = Trace.Config(computeMetrics = false,
      onStart = () => {
        last = System.nanoTime()
        r.sample("AlsBias.layout_s", (last - t0) / 1e9)
        r.subGroup("sweeps")
      },
      onIter = _ => {
        val now = System.nanoTime()
        r.sample("AlsBias.sweep_s", (now - last) / 1e9)
        last = now
      })
    val (model, _) = AlsBias.trainTraced(ratings(r), "user", "movie", "rating", p, cfg)
    if (r.checkPass) {
      model.userFactors.write.mode("overwrite").parquet(s"${r.work}/als_users")
      model.itemFactors.write.mode("overwrite").parquet(s"${r.work}/als_items")
    }
    None
  }, checked = false)

  private def bprFit(trainShape: TrainShape) = Step("bpr_fit", "op", "DsgdBpr", r => {
    val p = DsgdBpr.Params(rank = 12, epochs = trainShape.epochs, blocks = 4, seed = 42L)
    var last = System.nanoTime()
    val cfg = Trace.BprConfig(onEpoch = _ => {
      val now = System.nanoTime()
      r.sample("DsgdBpr.epoch_s", (now - last) / 1e9)
      last = now
    })
    val ff = DsgdBpr.trainFactors(positives(r), "user", "movie", trainShape.items, p,
      trace = cfg)
    if (r.checkPass) {
      ff.userFactors.write.mode("overwrite").parquet(s"${r.work}/bpr_users")
      ff.itemFactors.write.mode("overwrite").parquet(s"${r.work}/bpr_items")
    }
    None
  }, checked = false)

  private val evalRmse = Step("eval_rmse", "op", "Metrics", r => {
    val s = r.spark
    val model = AlsBias.Model(s.read.parquet(s"${r.work}/als_users"),
      s.read.parquet(s"${r.work}/als_items"))
    val v = Metrics.rmse(model.predict(ratings(r), "user", "movie"), "rating", "prediction")
    r.checkValue("rmse", v)
    None
  }, checked = false)

  private def evalPk(trainShape: TrainShape) = Step("eval_pk", "op", "Metrics", r => {
    val s = r.spark
    val row = Metrics.precisionRecallAtKSampled(s.read.parquet(s"${r.work}/bpr_users"),
      s.read.parquet(s"${r.work}/bpr_items"), positives(r), "user", "movie",
      k = 10, maxUsers = trainShape.evalUsers).head()
    r.checkValue("precision_at_10", row.getDouble(0))
    r.checkValue("recall_at_10", row.getDouble(1))
    None
  }, checked = false)

  /** The ops of a workload, in declaration order. The check pass runs them
    * in this order (the train evals read the models it saves). */
  def ops(workload: String, train: => TrainShape): Seq[Op] = workload match {
    case "cf_cowalk" => cfCowalk.map(query(_, "GraphCF")) ++ cfStores.map(phased)
    case "ops_mix" =>
      relational.map(query(_, "Queries")) ++ text.map(query(_, "text")) ++ stores.map(phased)
    case "train" =>
      Seq(alsFit(train), bprFit(train), evalRmse, evalPk(train)).map(s => Op(s.name, Seq(s)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The interaction frame the CF queries build: customer -> supplier. */
  private def inter(s: SparkSession, d: String, keep: org.apache.spark.sql.Column) =
    graft.Tables.orders(s, d).filter(keep)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))

  /** Direct calls into `GraphCF` on the inputs the CF queries build, for the
    * traced run's per-layer split: (metric, set-up) pairs, where the set-up
    * runs untimed and returns the timed call. */
  def graphCfCalls(s: SparkSession, d: String): Seq[(String, () => () => DataFrame)] = {
    val cut = lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))
    val all = inter(s, d, lit(true))
    val older = inter(s, d, col("o_orderdate") < cut)
    val delta = inter(s, d, col("o_orderdate") >= cut)
    def edges = GraphCF.edges(all, "cust", "supp", maxHistory = 50)
    def timed(f: => DataFrame): () => () => DataFrame = () => () => f
    Seq(
      "GraphCF.edges_s" -> timed(edges),
      "GraphCF.co_s" -> timed(GraphCF.coCounts(all, "cust", "supp", maxHistory = 50)),
      "GraphCF.co_s" -> timed(GraphCF.userCoCounts(all, "cust", "supp",
        maxHistory = 50, maxAudience = 50)),
      "GraphCF.recs_s" -> timed(GraphCF.itemKnnRecsFromEdges(edges, "cust", "supp",
        k = 10, neighbors = 20)),
      "GraphCF.recs_s" -> timed(GraphCF.p3alphaRecsFromEdges(edges, "cust", "supp",
        k = 10, neighbors = 20)),
      "GraphCF.recs_s" -> timed(GraphCF.userKnnRecsFromEdges(edges, "cust", "supp",
        k = 10, neighbors = 20, maxAudience = 50)),
      "GraphCF.fold_s" -> (() => {
        val oldCo = GraphCF.userCoCounts(older, "cust", "supp",
          maxHistory = 50, maxAudience = 50)
        () => GraphCF.foldUserCoDelta(older, delta, "cust", "supp", oldCo,
          maxHistory = 50, maxAudience = 50)
      }))
  }
}
