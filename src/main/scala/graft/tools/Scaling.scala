package graft.tools

import graft.{Bench, Pipeline}
import graft.sources.Corpus
import graft.util.Det
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** One cluster size of the scaling protocol (BASELINE.md: N vs 4N
  * executors; `tools/run_scaling.sh` submits it at 1×2 and 4×2): time
  * the flagship pipeline on real executor JVMs, then checksum its
  * output in the same session, and print one `cluster_level` JSON line.
  *
  *   spark-submit --class graft.tools.Scaling <jar> <nExec> <coresPerExec>
  *
  * The input is the sf0.1 spans table replicated REPL-fold so each
  * core has real work (fixed per-job overheads otherwise dominate a
  * 5000-doc corpus and measure the scheduler, not the pipeline).
  */
object Scaling {

  val Repl = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPL", "100").toInt
  /** Timed reps after one warm-up run; the level's time is their min. */
  val Reps = 4

  /** Materialize the replicated spans table ONCE as parquet — the
    * measured job then reads the table like a production run reads the
    * Iceberg documents table. Inline regeneration would bill the
    * benchmark for fixture synthesis (allocation-heavy, bandwidth-
    * bound) instead of the engine.
    */
  def ensureSpansTable(sfDir: String): String = {
    val dir = s"/tmp/graft_scaling_spans_${Det.scratchTag(sfDir, s"r$Repl")}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      val spark = Bench.session("32")
      Corpus.spansTableReplicated(spark, sfDir, Repl)
        .repartition(64, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
      spark.stop()
    }
    dir
  }

  /** A real multi-executor session: `local-cluster[n, coresPerExec,
    * memMb]` forks separate executor JVMs — the honest sandbox stand-in
    * for "N executors" (per-executor heaps, GC, and task pools, unlike
    * local[k]'s single shared JVM).
    */
  def clusterSession(nExec: Int, coresPerExec: Int): SparkSession = {
    val jar = new java.io.File("target/scala-2.13")
      .listFiles().filter(_.getName.endsWith(".jar")).map(_.getAbsolutePath)
    val s = SparkSession.builder()
      .master(s"local-cluster[$nExec,$coresPerExec,4096]")
      .appName("graft-scaling")
      .config("spark.executor.memory", "3g")
      .config("spark.jars", jar.mkString(","))
      .config("spark.sql.shuffle.partitions", (nExec * coresPerExec).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // partitions are already sized to the core count; AQE coalescing
      // below the cluster's parallelism serializes the narrow mention
      // stream (measured ~10-20% loss at 8 cores)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val Array(nExec, coresPerExec) = args.map(_.toInt)
    val spansDir = ensureSpansTable(sfDir)
    val spark = clusterSession(nExec, coresPerExec)
    import spark.implicits._
    val docs = spark.read.parquet(spansDir).as[graft.model.Doc]
    val triples = Pipeline.triplesOver(docs, Corpus.semiDocs(spark, sfDir))
    val nDocs = docs.count()
    var nTriples = 0L
    def job() = { nTriples = triples.count() }
    job() // warm-up
    // min over reps: noisy shared host + progressive JIT; min is the
    // noise-free estimator (both levels measured identically)
    val sec = (1 to Reps).map { _ =>
      val s = Bench.time(job())
      System.err.println(f"[scaling] exec=$nExec x$coresPerExec rep=$s%.3f s")
      s
    }.min
    // decimal accumulation: a sum of 64-bit hashes overflows LongType
    // under ANSI mode
    val checksum = BigDecimal(triples.select(sum(xxhash64(
      col("doc_id"), col("subj"), col("value_key")).cast("decimal(38,0)")))
      .first().getDecimal(0))
    spark.stop()
    println(f"""{"metric":"cluster_level","executors":$nExec,"cores_per_exec":$coresPerExec,"sec":$sec%.3f,"docs":$nDocs,"triples":$nTriples,"docs_per_sec":${nDocs / sec}%.1f,"checksum":"$checksum"}""")
  }
}
