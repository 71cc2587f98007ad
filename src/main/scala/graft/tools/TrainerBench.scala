package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** At-scale trainer validation: synthesize a MovieLens-shaped implicit
  * corpus at a parameterized scale — DISTRIBUTIVELY (spark.range + hash
  * math; nothing corpus-sized on the driver) — then measure the DSGD
  * trainer's wall time and the sampled P/R@k eval at that scale. Prints
  * one JSON line. Run at userScale 1 and 10 and compare: sub-epoch time
  * should be ~linear in positives (Gemulla KDD'11 strata are disjoint, so
  * work per sub-epoch = SGD steps over all positives once); the sampled
  * eval's product is maxUsers × catalog by construction, so its cost
  * should be ~flat in the user count.
  *
  * Shape notes: item popularity is Zipf-skewed (rank-r item drawn with
  * the square-law transform of a uniform draw), the reference's long-tail
  * shape (implicit_feedback/prac_2.py trains on exactly such a skewed
  * corpus); users carry a fixed mean positives count, so scaling users by
  * F scales positives by F with the per-user distribution preserved —
  * the structure-preserving axis, like events replication in [[ScaleUp]].
  *
  * Usage: TrainerBench <nUsers> <nItems> <posPerUser> <epochs> <blocks>
  */
object TrainerBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: TrainerBench <nUsers> <nItems> <posPerUser> <epochs> <blocks>")
    val Array(nUsers, nItems, posPerUser, epochs, blocks) = args.map(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", graft.Verify.runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-(user, draw) deterministic skewed item pick: u01 in [0,1) from a
    // 64-bit hash, item = floor(N * u01^2) — quadratic transform piles
    // mass on low item ids (a Zipf-ish head) without any driver state
    val u01 = pmod(xxhash64(col("user"), col("j")), lit(1000003L))
      .cast("double") / 1000003.0
    val positives = spark.range(nUsers.toLong)
      .select(col("id").cast("int").as("user"))
      .crossJoin(spark.range(posPerUser.toLong).select(col("id").as("j")))
      .select(col("user"),
        floor(u01 * u01 * nItems).cast("int").as("item"))
      .distinct() // collisions within a user collapse, like a ratings dedup
      .persist()
    val nPos = positives.count()

    val t0 = System.nanoTime()
    val ff = graft.model.DsgdBpr.trainFactors(positives, "user", "item", nItems,
      graft.model.DsgdBpr.Params(rank = 12, epochs = epochs, blocks = blocks,
        seed = 42L))
    val trainSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val pr = graft.model.Metrics.precisionRecallAtKSampled(
      ff.userFactors, ff.itemFactors, positives, "user", "item",
      k = 50, maxUsers = 500, seed = 42L).head()
    val evalSec = (System.nanoTime() - t1) / 1e9

    println(f"""{"users":$nUsers,"items":$nItems,"positives":$nPos,""" +
      f""""epochs":$epochs,"blocks":$blocks,"train_sec":$trainSec%.2f,""" +
      f""""per_epoch_sec":${trainSec / epochs}%.2f,"eval_sec":$evalSec%.2f,""" +
      f""""p_at_50":${pr.getDouble(0)}%.4f,"r_at_50":${pr.getDouble(1)}%.4f}""")
    spark.stop()
  }
}
