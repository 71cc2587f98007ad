package graft.model

import graft.SparkTestBase
import graft.linalg.Linalg
import org.apache.spark.sql.functions._

class AlsBiasSpec extends SparkTestBase {
  import spark.implicits._

  test("Linalg.choleskySolve solves SPD systems") {
    val a = Array(Array(4.0, 2.0), Array(2.0, 3.0))
    val x = Linalg.choleskySolve(a, Array(10.0, 8.0))
    // 4x+2y=10, 2x+3y=8 -> x=1.75, y=1.5
    assert(math.abs(x(0) - 1.75) < 1e-12 && math.abs(x(1) - 1.5) < 1e-12)
  }

  test("half-sweep bias matches closed form on zero factors (bias-only model)") {
    // with u=0, v=0, bo=0: newBias = lambda*sum(r)/(alpha+lambda*n), features=0
    val p = AlsBias.Params(rank = 2, lambda = 0.1, tau = 0.01, alpha = 0.01)
    val ratings = Seq((0, 0, 4.0), (0, 1, 2.0), (1, 0, 5.0)).toDF("u", "i", "r")
    val zeroU = Seq((0, Seq(0.0, 0.0), 0.0), (1, Seq(0.0, 0.0), 0.0))
      .toDF("id", "features", "bias")
    val zeroI = Seq((0, Seq(0.0, 0.0), 0.0), (1, Seq(0.0, 0.0), 0.0))
      .toDF("id", "features", "bias")
    val out = AlsBias.halfSweep(ratings, zeroU, zeroI, "u", "i", "r", p)
      .as[(Int, Seq[Double], Double)].collect().map(t => t._1 -> t).toMap
    val b0 = 0.1 * 6.0 / (0.01 + 0.1 * 2)
    val b1 = 0.1 * 5.0 / (0.01 + 0.1 * 1)
    assert(math.abs(out(0)._3 - b0) < 1e-12)
    assert(math.abs(out(1)._3 - b1) < 1e-12)
    assert(out(0)._2.forall(_ == 0.0)) // zero item vectors -> zero solution
  }

  test("half-sweep trait vector matches hand-computed d=1 normal equation") {
    // one user, two items with v=[2],[3], biases bv=0.5,-0.5, user bias from formula
    val p = AlsBias.Params(rank = 1, lambda = 0.1, tau = 0.01, alpha = 0.01)
    val ratings = Seq((0, 0, 4.0), (0, 1, 3.0)).toDF("u", "i", "r")
    val users = Seq((0, Seq(1.0), 0.0)).toDF("id", "features", "bias")
    val items = Seq((0, Seq(2.0), 0.5), (1, Seq(3.0), -0.5)).toDF("id", "features", "bias")
    val out = AlsBias.halfSweep(ratings, users, items, "u", "i", "r", p)
      .as[(Int, Seq[Double], Double)].head()
    // resid with current u=1: (4 - 1*2 - 0.5) + (3 - 1*3 + 0.5) = 1.5 + 0.5 = 2.0
    val bNew = 0.1 * 2.0 / (0.01 + 0.1 * 2)
    // rhs = sum((r - bv - bNew)*v) = (4-0.5-b)*2 + (3+0.5-b)*3
    val rhs = (4.0 - 0.5 - bNew) * 2 + (3.0 + 0.5 - bNew) * 3
    // (lambda*(4+9) + tau) * u = lambda * rhs
    val uNew = 0.1 * rhs / (0.1 * 13 + 0.01)
    assert(math.abs(out._3 - bNew) < 1e-12)
    assert(math.abs(out._2.head - uNew) < 1e-12)
  }

  test("training on a rank-2 synthetic matrix converges to low RMSE") {
    val rng = new scala.util.Random(7)
    val d = 2
    val uTrue = Array.fill(12)(Array.fill(d)(rng.nextGaussian()))
    val vTrue = Array.fill(15)(Array.fill(d)(rng.nextGaussian()))
    val ratings = (for {
      u <- 0 until 12; i <- 0 until 15 if rng.nextDouble() < 0.8
    } yield (u, i, uTrue(u).zip(vTrue(i)).map { case (a, b) => a * b }.sum))
      .toDF("u", "i", "r")
    val model = AlsBias.train(ratings, "u", "i", "r",
      AlsBias.Params(rank = 4, lambda = 1.0, tau = 0.01, alpha = 0.01, maxIter = 12, tol = 1e-4))
    val rmse = Metrics.rmse(model.predict(ratings, "u", "i"), "r", "prediction")
    assert(rmse < 0.15, s"rmse $rmse")
  }

  test("strictQ1Bias reproduces the reference's last-rating movie bias") {
    // item 0 rated by users 0 and 1; zero factors so resid = r
    val p = AlsBias.Params(rank = 1, lambda = 0.1, alpha = 0.01, strictQ1Bias = true)
    val ratings = Seq((0, 0, 4.0), (1, 0, 2.0)).toDF("u", "i", "r")
    val items = Seq((0, Seq(0.0), 0.0)).toDF("id", "features", "bias")
    val users = Seq((0, Seq(0.0), 0.0), (1, Seq(0.0), 0.0)).toDF("id", "features", "bias")
    val strict = AlsBias.halfSweep(ratings, items, users, "i", "u", "r", p)
      .as[(Int, Seq[Double], Double)].head()
    // last = max userId = user 1 -> resid 2.0; denominator still uses n=2
    assert(math.abs(strict._3 - 0.1 * 2.0 / (0.01 + 0.1 * 2)) < 1e-12)
    val corrected = AlsBias.halfSweep(ratings, items, users, "i", "u", "r",
      p.copy(strictQ1Bias = false)).as[(Int, Seq[Double], Double)].head()
    assert(math.abs(corrected._3 - 0.1 * 6.0 / (0.01 + 0.1 * 2)) < 1e-12)
  }

  test("maxDelta is zero for identical frames and positive otherwise") {
    val f1 = Seq((0, Seq(1.0, 2.0), 0.5)).toDF("id", "features", "bias")
    val f2 = Seq((0, Seq(1.0, 2.5), 0.5)).toDF("id", "features", "bias")
    assert(AlsBias.maxDelta(f1, f1) == 0.0)
    assert(math.abs(AlsBias.maxDelta(f1, f2) - 0.5) < 1e-12)
  }

  test("sweep modes are numerically identical: bcast == mid == routed huge") {
    // the threshold picks the PLAN, never the math: full multi-sweep
    // trainings through each sweepPlans branch (both-small broadcast,
    // one-side-above mid, both-above routed-factor huge) must produce
    // bit-comparable models on the same corpus. Covers the huge branch's
    // bucketed-fact + routing-table construction end to end, including
    // the training-scoped subset-key co-partition conf.
    val rng = new scala.util.Random(11)
    val ratings = (for {
      u <- 0 until 30; i <- 0 until 12 if rng.nextDouble() < 0.6
    } yield (u, i, (rng.nextInt(9) + 1) * 0.5)).toDF("u", "i", "r")
    val base = AlsBias.Params(rank = 3, lambda = 0.5, tau = 0.01, alpha = 0.01,
      maxIter = 4, tol = 0.0)
    def dump(m: AlsBias.Model) =
      (m.userFactors.orderBy("id").as[(Int, Seq[Double], Double)].collect().toSeq,
       m.itemFactors.orderBy("id").as[(Int, Seq[Double], Double)].collect().toSeq)
    def close(a: (Int, Seq[Double], Double), b: (Int, Seq[Double], Double)): Unit = {
      assert(a._1 == b._1)
      a._2.zip(b._2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
      assert(math.abs(a._3 - b._3) < 1e-9)
    }
    val bcast = dump(AlsBias.train(ratings, "u", "i", "r", base))
    val mid = dump(AlsBias.train(ratings, "u", "i", "r",
      base.copy(broadcastEntities = 20))) // 30 users above, 12 items below
    val huge = dump(AlsBias.train(ratings, "u", "i", "r",
      base.copy(broadcastEntities = 5, factBuckets = 16))) // both above
    // default bucket encoding: one murmur-representative bucket per
    // partition (the OutBlock-minimum routing geometry)
    val hugeDef = dump(AlsBias.train(ratings, "u", "i", "r",
      base.copy(broadcastEntities = 5)))
    for (other <- Seq(mid, huge, hugeDef)) {
      bcast._1.zip(other._1).foreach { case (a, b) => close(a, b) }
      bcast._2.zip(other._2).foreach { case (a, b) => close(a, b) }
    }
    // the scoped conf restored after training (default true on 4.x)
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "true")
  }

  /** `java.util.Arrays.hashCode` over the IEEE bit patterns of the
    * id-ordered (features, bias) rows — equal hashes mean bit-identical
    * factors. */
  private def factorDigest(df: org.apache.spark.sql.DataFrame): Int =
    java.util.Arrays.hashCode(df.as[(Int, Seq[Double], Double)].collect().sortBy(_._1)
      .flatMap(t => t._2 :+ t._3).map(java.lang.Double.doubleToLongBits))

  test("golden pin: every sweep plan's factors and deltas are bit-identical") {
    // the corpus of the sweep-modes test; one training per sweepPlans
    // branch, the Q1 quirk and the genre loop. Any change to the kernel's
    // arithmetic, the summation order or the delta moves a digest
    val ratings = sweepModesCorpus
    val base = AlsBias.Params(rank = 3, lambda = 0.5, tau = 0.01, alpha = 0.01,
      maxIter = 4, tol = 0.0)
    val cfg = Trace.Config(computeMetrics = false)
    // the delta sequence as IEEE bit patterns: exact, not within 1e-9
    def pin(p: AlsBias.Params): (Int, Int, Seq[Long]) = {
      val (m, hist) = AlsBias.trainTraced(ratings, "u", "i", "r", p, cfg)
      (factorDigest(m.userFactors), factorDigest(m.itemFactors),
        hist.map(h => java.lang.Double.doubleToLongBits(h.maxDelta)))
    }
    val bcastDeltas = Seq(4621891313016767003L, 4615975651189276949L,
      4606227017445305896L, 4603586328880780638L)
    assert(pin(base) == ((-445320672, 453508780, bcastDeltas)))
    assert(pin(base.copy(broadcastEntities = 20)) == ((-1568173821, -1883636429,
      Seq(4621891313016767003L, 4615975651189276948L, 4606227017445305892L,
        4603586328880780640L))))
    assert(pin(base.copy(broadcastEntities = 5)) == ((-445320672, 453508780, bcastDeltas)))
    assert(pin(base.copy(strictQ1Bias = true)) == ((1211398413, 47347215,
      Seq(4621891313016767003L, 4616092784837685071L, 4608081278684815964L,
        4605544519981301936L))))
    val movieGenres = (0 until 12)
      .map(i => (i, Seq(i % 3, 3 + i % 2), 2)).toDF("id", "genre_values", "genre_count")
    val (gm, ghist) = AlsGenre.trainTraced(ratings, movieGenres, "u", "i", "r",
      AlsGenre.Params(rank = 3, lambda = 0.5, maxIter = 4, tol = 0.0), cfg)
    assert((factorDigest(gm.userFactors), factorDigest(gm.itemFactors),
      ghist.map(h => java.lang.Double.doubleToLongBits(h.maxDelta))) ==
      ((-746252716, -1974924714, Seq(4621891313016767003L, 4616021930506389553L,
        4606496630587792672L, 4604441778503789394L))))
  }

  private def sweepModesCorpus = {
    val rng = new scala.util.Random(11)
    (for {
      u <- 0 until 30; i <- 0 until 12 if rng.nextDouble() < 0.6
    } yield (u, i, (rng.nextInt(9) + 1) * 0.5)).toDF("u", "i", "r")
  }

  test("the delta observed on a sweep's checkpoint equals maxDelta of the pair") {
    val ratings = sweepModesCorpus
    val p = AlsBias.Params(rank = 3, lambda = 0.5)
    // user 99 has no ratings: the alignment join's zero fill counts too
    val users = AlsBias.initFactors(ratings, "u", p, 1L)
      .union(Seq((99, Seq(0.5, -2.0, 1.0), 0.25)).toDF("id", "features", "bias"))
    val items = AlsBias.initFactors(ratings, "i", p, 2L)
    for (bcast <- Seq(true, false)) {
      val (newUsers, d) = AlsBias.checkpointSweep(AlsBias.sweepWithDelta(ratings, users,
        items, "u", "i", "r", p, broadcastOther = bcast, broadcastSelf = bcast,
        routing = None))
      assert(d == AlsBias.maxDelta(users, newUsers))
      assert(d >= 2.0) // user 99's feature moved from -2.0 to 0
      org.apache.spark.sql.graft.Checkpoints.release(newUsers)
    }
  }

  test("a training runs 4 + 2·sweeps SQL executions on the both-small plan") {
    // the init checkpoints and the two fact layouts, then one checkpoint
    // per half-sweep: no convergence-delta joins, no count() barriers
    val p = AlsBias.Params(rank = 3, lambda = 0.5, maxIter = 2, tol = 0.0)
    val ratings = sweepModesCorpus
    val (_, execs) = org.apache.spark.sql.graft.JobCount.sqlExecutions(spark) {
      AlsBias.trainTraced(ratings, "u", "i", "r", p, Trace.Config(computeMetrics = false))
    }
    assert(execs <= 8, s"$execs SQL executions")
  }

  test("cache lifetime: only the two returned checkpoints stay cached") {
    val sc = spark.sparkContext
    val ratings = sweepModesCorpus
    def rddId(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    def check(train: => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) = {
      val before = sc.getPersistentRDDs.keySet
      val (u, i) = train
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added == Set(rddId(u), rddId(i)), s"persisted RDDs left behind: $added")
      assert(u.count() == 30 && i.count() == 12)
      Seq(u, i).foreach(org.apache.spark.sql.graft.Checkpoints.release)
    }
    val cfg = Trace.Config(computeMetrics = false)
    for (bcast <- Seq(1000000L, 20L)) {
      check {
        val m = AlsBias.trainTraced(ratings, "u", "i", "r", AlsBias.Params(rank = 3,
          maxIter = 3, tol = 0.0, broadcastEntities = bcast), cfg)._1
        (m.userFactors, m.itemFactors)
      }
    }
    val movieGenres = (0 until 12)
      .map(i => (i, Seq(i % 3, 3 + i % 2), 2)).toDF("id", "genre_values", "genre_count")
    check {
      val m = AlsGenre.trainTraced(ratings, movieGenres, "u", "i", "r",
        AlsGenre.Params(rank = 3, maxIter = 3, tol = 0.0), cfg)._1
      (m.userFactors, m.itemFactors)
    }
  }

  test("bucketReps pins bucket j to partition j under Spark's repartition hash") {
    for (n <- Seq(3, 32, 100)) {
      val reps = AlsBias.bucketReps(n)
      assert(reps.distinct.length == n)
      // the exact partition function a repartition(n, col) applies
      reps.zipWithIndex.foreach { case (v, j) =>
        val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)))
          .eval(null).asInstanceOf[Int]
        assert(math.floorMod(h, n) == j, s"rep $v for bucket $j of $n")
      }
    }
    // and through the REAL planner: a frame repartitioned on the rep
    // column puts every bucket alone in its own partition
    val n = 8
    val reps = AlsBias.bucketReps(n)
    val df = (0 until 400).toDF("id")
      .withColumn("b", element_at(
        array(reps.map(lit(_)).toIndexedSeq: _*),
        (pmod(hash(col("id")), lit(n)) + 1).cast("int")))
      .repartition(n, col("b"))
    val perPart = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(pid -> it.map(_.getInt(1)).toSet)
    }.collect().toMap
    assert(perPart.values.forall(_.size <= 1), s"bucket collision: $perPart")
    assert(perPart.count(_._2.nonEmpty) == n, "every partition owns a bucket")
  }

  test("gaussian init is deterministic and roughly scaled") {
    val ids = (0 until 500).toDF("id")
    val feats = ids.select(AlsBias.gaussianInitCol(col("id"), 4, 1.0, 42L).as("f"))
      .as[Seq[Double]].collect()
    val feats2 = ids.select(AlsBias.gaussianInitCol(col("id"), 4, 1.0, 42L).as("f"))
      .as[Seq[Double]].collect()
    assert(feats.toSeq == feats2.toSeq)
    val all = feats.flatten
    val mean = all.sum / all.size
    val sd = math.sqrt(all.map(x => (x - mean) * (x - mean)).sum / all.size)
    assert(math.abs(mean) < 0.1 && sd > 0.8 && sd < 1.2)
  }
}
class BiasOnlySpec extends graft.SparkTestBase {
  import spark.implicits._

  test("biasOnly training keeps factors at zero and fits additive biases") {
    // additive ground truth: r = bu(u) + bi(i)
    val ratings = (for (u <- 0 until 6; i <- 0 until 8)
      yield (u, i, 3.0 + (u - 2.5) * 0.4 + (i - 3.5) * 0.2)).toSeq.toDF("u", "i", "r")
    val model = graft.model.AlsBias.train(ratings, "u", "i", "r",
      graft.model.AlsBias.Params(rank = 2, lambda = 1.0, alpha = 0.001,
        maxIter = 8, tol = 1e-6, biasOnly = true))
    val feats = model.userFactors.union(model.itemFactors)
      .select("features").as[Seq[Double]].collect()
    assert(feats.forall(_.forall(_ == 0.0)))
    val rmse = graft.model.Metrics.rmse(
      model.predict(ratings, "u", "i"), "r", "prediction")
    assert(rmse < 0.1, s"rmse $rmse")
  }
}
