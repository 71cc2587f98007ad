package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.perfbench.{GroupStats, Probe}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs one workload in one JVM: a check pass that also warms the JIT, then
  * timed passes over the seed-permuted op order until `--seconds` are spent.
  * With `--trace 1` a scheduler listener attributes engine counters to each
  * step through its job group, and direct layer calls precede the passes.
  *
  * The last stdout line is a JSON object with the raw figures; `run.py`
  * checks the digests and prints the benchmark's result line. The spans and
  * per-step records go to the `--out` file.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE --t0-ms EPOCH_MS
  *             --train ITEMS,SWEEPS,EPOCHS,EVAL_USERS [--record DIR]
  */
object Main {
  /** Local cores, and the shuffle partitions sized to them. */
  val Cores = 4

  /** A timed interval of the run; `endMs` is set when it closes. */
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startMs: Double, var endMs: Double = 0.0,
                        attrs: Seq[(String, Double)] = Nil)

  /** One executed step of a timed pass; `span` is its span id and job group
    * (`-span` keys its sub-group in the traced counters). */
  final case class Rec(pass: Int, op: String, step: Step, seconds: Double,
                       span: Int, startMs: Double, endMs: Double, leftover: Long)

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val workDir = new File(args("work")).getAbsolutePath
    val setupStartMs = args("t0-ms").toDouble
    // record mode: the check pass also writes each checked output, for the
    // oracle comparison that produces the expected digests
    val record = args.get("record")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", Cores.toString)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(s"$workDir/checkpoints")
    val probe = if (traced) Some(new Probe(sc)) else None
    probe.foreach(sc.addSparkListener)

    val spans = mutable.ArrayBuffer.empty[Span]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val checks = mutable.LinkedHashMap.empty[String, Double]
    val digests = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var group = ""
    var checking = true

    val session = spark
    val run = new Run {
      val spark: SparkSession = session
      val data: String = new File(args("data")).getAbsolutePath
      val work: String = workDir
      def checkPass: Boolean = checking
      def sample(metric: String, value: Double): Unit =
        if (!checking) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += value
      def checkValue(name: String, value: Double): Unit = if (checking) checks(name) = value
      def subGroup(suffix: String): Unit =
        if (traced) sc.setJobGroup(s"$group.$suffix", suffix, interruptOnCancel = false)
    }

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def cachedBytes(): Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    val recs = mutable.ArrayBuffer.empty[Rec]
    def open(parent: Int, kind: String, name: String, start: Double = nowMs,
             attrs: Seq[(String, Double)] = Nil): Span = {
      val s = Span(spans.size + 1, parent, kind, name, start, attrs = attrs)
      spans += s
      s
    }

    /** Runs an op's steps in order under one op span. */
    def runOp(pass: Int, passSpan: Span, op: Op): Unit = {
      val os = open(passSpan.id, "op", op.name)
      op.steps.foreach(runStep(pass, os, op, _))
      os.endMs = nowMs
    }

    /** Runs one step; a failure is counted and the run goes on. */
    def runStep(pass: Int, opSpan: Span, op: Op, step: Step): Unit = {
      attempted += 1
      val sp = open(opSpan.id, "step", step.name)
      group = s"s${sp.id}"
      if (traced) {
        sc.setJobGroup(group, step.name, interruptOnCancel = false)
        probe.get.mark(group)
      }
      val t0 = System.nanoTime()
      try {
        step.run(run).foreach { df =>
          val d = digest(df)
          if (checking && step.checked) {
            digests(op.name) = d
            record.foreach(dir => df.write.parquet(s"$dir/${op.name}"))
          } else if (step.checked && digests.get(op.name).exists(_ != d))
            errors += s"${step.name}: digest $d differs from the check pass"
        }
      } catch {
        case e: Throwable =>
          errors += s"${step.name}: ${e.getClass.getName}: ${e.getMessage}"
      }
      val secs = (System.nanoTime() - t0) / 1e9
      sp.endMs = nowMs
      val leftover = if (traced) cachedBytes() else 0L
      if (traced) sc.clearJobGroup()
      if (pass >= 0) recs += Rec(pass, op.name, step, secs, sp.id, sp.startMs, sp.endMs, leftover)
      cleanup()
    }

    val ops = Workloads.ops(workload, Workloads.TrainShape.parse(args("train")))
    val runSpan = open(0, "run", s"$workload seed=$seed trace=${if (traced) 1 else 0}",
      setupStartMs)
    val wlSpan = open(runSpan.id, "workload", workload, setupStartMs)

    // check pass, in declaration order: its digests are what every timed
    // pass must reproduce, and it warms the JIT for the timed plans
    val checkSpan = open(wlSpan.id, "pass", "check")
    ops.foreach(runOp(-1, checkSpan, _))
    checking = false
    System.gc()
    checkSpan.endMs = nowMs
    val setupS = (checkSpan.endMs - setupStartMs) / 1e3
    probe.foreach(_.drain())

    // layer calls of the traced run; their time comes out of the timed budget
    val layerTimes = mutable.LinkedHashMap.empty[String, Double]
    var coShuffleRows = 0L
    if (traced && workload == "cf_cowalk") {
      val ls = open(wlSpan.id, "pass", "layer calls")
      for ((metric, setup) <- Workloads.graphCfCalls(spark, run.data)) {
        val call = setup()
        val sp = open(ls.id, "layer", metric)
        sc.setJobGroup(s"s${sp.id}", metric, interruptOnCancel = false)
        val t = System.nanoTime()
        noop(call())
        val secs = (System.nanoTime() - t) / 1e9
        sp.endMs = nowMs
        sc.clearJobGroup()
        cleanup()
        layerTimes(metric) = layerTimes.getOrElse(metric, 0.0) + secs
        probe.get.drain()
        if (metric == "GraphCF.co_s") coShuffleRows += probe.get.take(s"s${sp.id}").shuffleRows
      }
      ls.endMs = nowMs
    }

    // timed passes over the seed-permuted op order: the first always, then
    // another only while a pass of the mean length still fits the budget
    val rng = new scala.util.Random(seed)
    val stats = mutable.HashMap.empty[Int, GroupStats]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val budget = seconds - layerTimes.values.sum
    while (passTimes.isEmpty || elapsed + passTimes.sum / passTimes.size <= budget) {
      val pass = passTimes.size
      val ps = open(wlSpan.id, "pass", s"pass $pass")
      rng.shuffle(ops).foreach(runOp(pass, ps, _))
      ps.endMs = nowMs
      passTimes += recs.filter(_.pass == pass).map(_.seconds).sum
      probe.foreach { p =>
        p.drain()
        recs.filter(_.pass == pass).foreach { r =>
          stats(r.span) = p.take(s"s${r.span}")
          stats(-r.span) = p.take(s"s${r.span}.sweeps")
        }
      }
      System.gc()
    }
    val measuredS = elapsed

    // a step's latency: its mean over the passes, so every step weighs the same
    val stepMeans = recs.groupBy(_.step.name).values.map(rs => rs.map(_.seconds).sum / rs.size)
      .toSeq.sorted
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      metrics("setup_s") = setupS
      metrics("pass_s") = median(passTimes)
      metrics("op_p50_s") = quantile(stepMeans, 0.5)
      metrics("op_p90_s") = quantile(stepMeans, 0.9)
      metrics("peak_rss_mb") = peakRssMb()
    } else {
      traceMetrics(metrics, recs.toSeq, stats,
        samples.map { case (k, v) => k -> v.toSeq }, layerTimes, coShuffleRows,
        digests.map { case (k, (n, _)) => k -> n }, new File(s"$workDir/warehouse"))
    }

    // engine spans: jobs and stages under the step that ran them
    for (r <- recs; g <- stats.get(r.span).toSeq ++ stats.get(-r.span)) {
      val jobSpan = mutable.HashMap.empty[Int, Int]
      for ((s, e, exec, job) <- g.jobSpans) {
        val sp = open(r.span, "job", s"job $job", s.toDouble, Seq("sql_execution" -> exec.toDouble))
        sp.endMs = e.toDouble
        jobSpan(job) = sp.id
      }
      for ((st, job, s, e, n) <- g.stageSpans)
        open(jobSpan.getOrElse(job, r.span), "stage", s"stage $st", s.toDouble,
          Seq("tasks" -> n.toDouble)).endMs = e.toDouble
    }
    runSpan.endMs = nowMs
    wlSpan.endMs = runSpan.endMs

    writeDetail(args("out"), workload, seed, traced, setupS, measuredS,
      recs.toSeq.map(r => (r.pass, r.op, r.step.name, r.step.kind, r.step.family, r.seconds,
        stats.get(r.span))), spans.toSeq, digests, checks, errors.toSeq, metrics)

    record.foreach { dir =>
      val sql = graft.SparkEntry.oracleSql
      new File(dir).mkdirs()
      Files.write(new File(s"$dir/oracle_sql.json").toPath,
        obj(digests.keys.toSeq.flatMap(k => sql.get(k).map(q => k -> esc(q))))
          .getBytes(StandardCharsets.UTF_8))
    }
    val out = new StringBuilder("{")
    out ++= s""""attempted":$attempted,"errors":${errors.size},"passes":${passTimes.size},"""
    out ++= s""""steps":${stepMeans.size},"measured_s":$measuredS,"""
    out ++= "\"checks\":" + obj(checks.toSeq.map { case (k, v) => k -> num(v) }) + ","
    out ++= "\"digests\":" + obj(digests.toSeq.map { case (k, (n, h)) => k -> s"[$n,$h]" }) + ","
    out ++= "\"metrics\":" + obj(metrics.toSeq.map { case (k, v) => k -> num(v) }) + "}"
    errors.foreach(e => System.err.println(s"perfbench: FAILED $e"))
    spark.stop()
    println(out.toString)
  }

  /** Row count and an order-independent sum of per-row xxhash64 values. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val h = pmod(xxhash64(cols: _*), lit(1L << 40))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The per-layer metrics of a traced run, per pass unless noted. */
  private def traceMetrics(m: mutable.LinkedHashMap[String, Double], recs: Seq[Rec],
                           stats: collection.Map[Int, GroupStats],
                           samples: collection.Map[String, Seq[Double]],
                           layerTimes: collection.Map[String, Double], coShuffleRows: Long,
                           resultRows: collection.Map[String, Long],
                           warehouse: File): Unit = {
    val mb = 1048576.0
    val nPass = recs.map(_.pass).distinct.size.toDouble
    def g(r: Rec): Seq[GroupStats] = stats.get(r.span).toSeq ++ stats.get(-r.span)
    def eng(rs: Seq[Rec])(f: GroupStats => Double): Double = rs.flatMap(g).map(f).sum / nPass
    def perPass(rs: Seq[Rec])(f: Rec => Double): Double = rs.map(f).sum / nPass
    val wall = perPass(recs)(_.seconds)
    m("engine.jobs") = eng(recs)(_.jobs)
    m("engine.stages") = eng(recs)(_.stages)
    m("engine.tasks") = eng(recs)(_.tasks)
    // actions before the step's last one: distinct SQL executions, and
    // jobs outside any SQL execution, each count as one action
    m("engine.barrier_jobs") = perPass(recs) { r =>
      val jobs = g(r).flatMap(_.jobSpans)
      val actions = jobs.filter(_._3 >= 0).map(_._3).distinct.size + jobs.count(_._3 < 0)
      math.max(0, actions - 1).toDouble
    }
    m("engine.driver_gap_s") = perPass(recs) { r =>
      val busy = union(g(r).flatMap(_.jobSpans).map(j => (j._1.toDouble, j._2.toDouble)),
        r.startMs, r.endMs)
      math.max(0.0, r.endMs - r.startMs - busy) / 1e3
    }
    val taskRun = eng(recs)(_.taskRunMs / 1e3)
    m("engine.task_run_s") = taskRun
    m("engine.task_cpu_s") = eng(recs)(_.taskCpuNs / 1e9)
    m("engine.gc_s") = eng(recs)(_.gcMs / 1e3)
    m("engine.sched_delay_s") = eng(recs)(_.schedDelayMs / 1e3)
    m("engine.fetch_wait_s") = eng(recs)(_.fetchWaitMs / 1e3)
    m("engine.core_util") = if (wall > 0) taskRun / (wall * Cores) else 0.0
    m("engine.shuffle_rows") = eng(recs)(_.shuffleRows.toDouble)
    m("engine.shuffle_mb") = eng(recs)(_.shuffleBytes / mb)
    m("engine.spill_mb") = eng(recs)(_.spillBytes / mb)
    m("cache.peak_mb") = recs.flatMap(g).map(_.cachePeakBytes).maxOption.getOrElse(0L) / mb
    m("cache.leftover_mb") = perPass(recs)(_.leftover / mb)
    m("Tables.input_rows") = eng(recs)(_.inputRows.toDouble)
    m("Tables.input_mb") = eng(recs)(_.inputBytes / mb)
    for (k <- Seq("GraphCF.edges_s", "GraphCF.co_s", "GraphCF.recs_s", "GraphCF.fold_s"))
      m(k) = layerTimes.getOrElse(k, 0.0)
    m("GraphCF.co_shuffle_rows") = coShuffleRows.toDouble
    val writes = recs.filter(_.step.kind == "write")
    val reads = recs.filter(_.step.kind == "read")
    val files = Option(warehouse.listFiles()).toSeq.flatten.flatMap(walk)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val diskMb = files.map(_.length).sum / mb
    val buildInputMb = eng(writes)(_.inputBytes / mb)
    m("Stores.files_written") = files.size.toDouble
    m("Stores.mb_written") = diskMb
    m("Stores.build_input_mb") = buildInputMb
    m("Stores.write_amp") = if (buildInputMb > 0) diskMb / buildInputMb else 0.0
    m("Stores.probe_input_mb") = eng(reads)(_.inputBytes / mb)
    val probeRows = perPass(reads)(r => resultRows.getOrElse(r.op, 0L).toDouble)
    m("Stores.rows_scanned_per_result") =
      if (probeRows > 0) eng(reads)(_.inputRows.toDouble) / probeRows else 0.0
    m("Stores.write_s") = perPass(writes)(_.seconds)
    m("Stores.read_s") = perPass(reads)(_.seconds)
    def med(k: String) = median(samples.getOrElse(k, Nil))
    m("AlsBias.layout_s") = med("AlsBias.layout_s")
    m("AlsBias.sweep_s") = med("AlsBias.sweep_s")
    val sweeps = samples.getOrElse("AlsBias.sweep_s", Nil).size
    m("AlsBias.sweep_shuffle_mb") =
      if (sweeps > 0) recs.flatMap(r => stats.get(-r.span)).map(_.shuffleBytes).sum / mb / sweeps
      else 0.0
    m("DsgdBpr.epoch_s") = med("DsgdBpr.epoch_s")
    def family(f: String) = perPass(recs.filter(_.step.family == f))(_.seconds)
    m("Metrics.eval_s") = family("Metrics")
    m("Queries.op_s") = family("Queries")
    m("text.op_s") = family("text")
    m("trace.pass_s") = wall
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    for ((s, e) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
                   .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def median(xs: Iterable[Double]): Double = quantile(xs.toSeq.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => esc(k) + ":" + v }.mkString("{", ",", "}")

  private def writeDetail(path: String, workload: String, seed: Long, traced: Boolean,
                          setupS: Double, measuredS: Double,
                          steps: Seq[(Int, String, String, String, String, Double,
                            Option[GroupStats])],
                          spans: Seq[Span], digests: collection.Map[String, (Long, Long)],
                          checks: collection.Map[String, Double], errors: Seq[String],
                          metrics: collection.Map[String, Double]): Unit = {
    val b = new StringBuilder("{")
    b ++= s""""workload":${esc(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},"""
    b ++= s""""setup_s":$setupS,"measured_s":$measuredS,"""
    b ++= "\"metrics\":" + obj(metrics.toSeq.map { case (k, v) => k -> num(v) }) + ","
    b ++= "\"checks\":" + obj(checks.toSeq.map { case (k, v) => k -> num(v) }) + ","
    b ++= "\"digests\":" + obj(digests.toSeq.map { case (k, (n, h)) => k -> s"[$n,$h]" }) + ","
    b ++= "\"errors\":" + errors.map(esc).mkString("[", ",", "]") + ","
    b ++= "\"steps\":[\n" + steps.map { case (pass, op, step, kind, family, secs, g) =>
      val base = Seq("pass" -> pass.toString, "op" -> esc(op), "step" -> esc(step),
        "kind" -> esc(kind), "family" -> esc(family), "seconds" -> num(secs))
      val eng = g.toSeq.flatMap { s =>
        Seq("jobs" -> s.jobs.toString, "stages" -> s.stages.toString,
          "tasks" -> s.tasks.toString, "task_run_s" -> num(s.taskRunMs / 1e3),
          "shuffle_rows" -> s.shuffleRows.toString,
          "shuffle_mb" -> num(s.shuffleBytes / 1048576.0),
          "input_rows" -> s.inputRows.toString)
      }
      obj(base ++ eng)
    }.mkString(",\n") + "],\n"
    b ++= "\"spans\":[\n" + spans.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "kind" -> esc(s.kind),
        "name" -> esc(s.name), "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)) ++
        s.attrs.map { case (k, v) => k -> num(v) })
    }.mkString(",\n") + "]}\n"
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, b.toString.getBytes(StandardCharsets.UTF_8))
  }
}
