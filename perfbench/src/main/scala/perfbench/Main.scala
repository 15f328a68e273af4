package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM side (perfbench/run.py builds and launches it).
  *
  * One run: generate (or reuse) the seeded inputs, set up `Setups`
  * times (session start + the cold first op), run `WarmupOps` untimed
  * ops, then a closed loop of ops from this one driver thread at
  * local[nproc] for `--seconds`. Traced runs then run the op
  * once more as traced prefix actions, and time one op in a fresh
  * local[1] session for scaling_eff. Prints `PERFBENCH_RESULT <json>`
  * last.
  */
object Main {

  val Setups = 3
  /** Op time still falls over the first ops after set-up (JIT). */
  val WarmupOps = 3

  /** Every span any workload emits; idle spans report 0 on the others. */
  val AllSpans: Seq[String] = Seq(
    "sources.scan", "extraction.sentences", "extraction.lu_match",
    "classification.classify", "serialize.text_triples", "serialize.semi_triples",
    "serialize.union_dedup", "curation.funnel", "dedup.candidates", "dedup.verify",
    "dedup.cc", "checkpoint.run_stage", "checkpoint.resume", "tableio.read",
    "dedup.incremental", "dedup.index_append")

  /** Useful-work ratios, and the write path's resume and write costs. */
  val Ratios: Seq[String] = Seq(
    "extraction.lu_hit_ratio", "classification.keep_ratio", "serialize.link_ratio",
    "serialize.dedup_ratio", "curation.survival_ratio", "dedup.verify_ratio",
    "checkpoint.resume_bucket_ratio", "checkpoint.resume_frac", "checkpoint.write_amp")

  private val SpanMetrics: Seq[(String, String, SpanStat => Double)] = Seq(
    ("self_s", "s", _.selfS), ("task_s", "s", _.taskS), ("jobs", "count", _.jobs),
    ("rows_out", "rows", _.rowsOut), ("shuffle_write_mb", "MB", _.shuffleWriteMb),
    ("spill_mb", "MB", _.spillMb), ("task_skew", "ratio", _.taskSkew))

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs for the UI; a closed loop of
      // many-job ops would otherwise grow it (and its clean-ups) with every op
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Untimed, before every op and set-up: a full GC, so each starts
    * from the same heap. The blocks of an op's localCheckpoints and
    * persists are only released once a full GC frees their RDDs; a
    * closed loop that never runs one fills the memory store, spills to
    * disk and pauses for full GCs inside ever slower ops.
    */
  private def settle(): Unit = System.gc()

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = Path.of(arg(args, "work")).toAbsolutePath
    val data = arg(args, "data")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val t00 = System.nanoTime()
    val phases = mutable.ArrayBuffer.empty[String]
    def phase(name: String): Unit = phases += f"$name@${(System.nanoTime() - t00) / 1e9}%.1f"
    val load0 = Files.readString(Path.of("/proc/loadavg")).split(" ")(0)
    val cpu0 = Util.cpuTicks()

    // seeded inputs: generated before anything is timed, in their own session
    val in = Inputs.ensure(session(nproc, work), data, work.resolve("inputs"), seed)

    phase("inputs")
    val scratch = work.resolve(s"scratch-${ProcessHandle.current().pid()}")
    val w = Workload(workload, in, scratch)
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def runOp(spark: SparkSession): Option[OpResult] = {
      settle()
      attempted += 1
      try {
        val r = w.op(spark)
        if (r.problems.nonEmpty) { failed += 1; problems ++= r.problems }
        Some(r)
      } catch {
        case e: Exception =>
          failed += 1; problems += s"op threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }

    // set-up: session start + the cold first op (neither op needs a one-time build)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      settle()
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      val started = (System.nanoTime() - t0) / 1e9
      runOp(spark).foreach(r => setupS += started + r.wallS)
    }
    phase("setups")
    problems ++= w.setupChecks(spark)
    val docs = w.docs(spark)
    phase("checks")

    // the closed loop at local[nproc]
    def loop(s: SparkSession, secs: Double, minOps: Int): Seq[OpResult] = {
      val out = mutable.ArrayBuffer.empty[OpResult]
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      var tries = 0
      while (System.nanoTime() < deadline || (out.size < minOps && tries < 2 * minOps)) {
        tries += 1
        runOp(s).foreach(out += _)
      }
      out.toSeq
    }
    // warm-up ops are checked but not sampled; the timed loop starts after them
    for (_ <- 1 to WarmupOps) runOp(spark)
    phase("warmup")
    val ops = loop(spark, seconds, 2)
    require(ops.nonEmpty, s"too few ops succeeded: ${problems.mkString("; ")}")
    val opS = Util.median(ops.map(_.wallS))
    phase("loop")
    val calib = graft.Bench.calibrate(spark)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    println(s"perfbench: op_s samples=${ops.size} [${ops.map(o => f"${o.wallS}%.3f").mkString(",")}] " +
      s"setups [${setupS.map(v => f"$v%.3f").mkString(",")}]")
    if (!trace) {
      metrics("setup_s") = (Util.median(setupS.toSeq), "s")
      metrics("op_s") = (opS, "s")
      metrics("docs_per_s") = (docs / opS, "docs/s")
      metrics("peak_rss_mb") = (Util.peakRssMb(), "MB")
    } else {
      // one op as traced prefix actions
      val tr = new Tracer(spark)
      attempted += 1
      tr.startOp("op1")
      val (ps, ratios) = w.traced(spark, tr)
      if (ps.nonEmpty) { failed += 1; problems ++= ps }
      val (stats, fin) = tr.finish()
      tr.close()
      val traceFile = work.resolve("traces").resolve(s"$workload-seed$seed.jsonl")
      Files.createDirectories(traceFile.getParent)
      Files.writeString(traceFile, tr.records.mkString("", "\n", "\n"))
      println(s"perfbench: ${tr.records.size} spans written to ${work.getFileName.resolve(work.relativize(traceFile))}")
      for (span <- AllSpans; (m, unit, f) <- SpanMetrics)
        metrics(s"$span.$m") = (stats.get(span).map(f).getOrElse(0.0), unit)
      for (r <- Ratios)
        metrics(r) = (ratios.getOrElse(r, 0.0), "ratio")
      metrics("trace.final_prefix_s") = (fin, "s")
      metrics("trace.overhead_ratio") = (fin / opS, "ratio")
      val selfSum = w.spans.filterNot(w.probes.contains).flatMap(stats.get).map(_.selfS).sum
      println(s"perfbench: traced final_prefix_s=${num(fin)} self_s_sum=${num(selfSum)} " +
        s"untraced_op_s=${num(opS)}")
      phase("traced")

      // scaling: the same op in a local[1] session of its own, on the same input
      spark.stop()
      spark = session(1, work)
      val op1 = loop(spark, 0, 1)
      require(op1.nonEmpty, s"the local[1] op failed: ${problems.mkString("; ")}")
      metrics("scaling_eff") = (op1.head.wallS / (nproc * opS), "ratio")
      println(f"perfbench: local[1] op_s=${op1.head.wallS}%.3f")
      phase("local1")
    }
    spark.stop()
    Util.deleteTree(scratch)

    phase("end")
    println(s"perfbench: phases ${phases.mkString(" ")}")
    val load1 = Files.readString(Path.of("/proc/loadavg")).split(" ")(0)
    val cpu1 = Util.cpuTicks()
    val steal = Workload.ratio(cpu1._2 - cpu0._2, cpu1._1 - cpu0._1)
    println(s"perfbench: host nproc=$nproc loadavg_start=$load0 loadavg_end=$load1 " +
      f"steal_share=$steal%.3f calibrate_s=${num(calib)} (labels only; no metric is rescaled)")
    problems.distinct.take(20).foreach(p => println(s"perfbench: problem: $p"))
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""PERFBENCH_RESULT {"correct": ${problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }
}
