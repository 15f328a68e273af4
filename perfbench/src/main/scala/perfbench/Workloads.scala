package perfbench

import java.nio.file.{Files, Path}
import graft.Pipeline
import graft.model.{Doc, SemiDoc}
import graft.operators._
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One untraced op: its wall time (output checks excluded) and the
  * problems its checks found.
  */
case class OpResult(wallS: Double, problems: Seq[String])

/** A workload: a closed loop of identical ops over one seeded input.
  * The first op that runs sets the reference output every later op
  * (in any session, at any parallelism) must reproduce exactly.
  */
abstract class Workload(val in: Inputs.Paths, val scratch: Path) {
  /** Spans the traced op emits, in order. */
  def spans: Seq[String]
  /** Spans that measure work outside the op (left out of its final-prefix time). */
  def probes: Seq[String] = Nil
  /** Input docs one op processes (the docs_per_s numerator). */
  def docs(spark: SparkSession): Long
  def op(spark: SparkSession): OpResult
  /** Absolute output checks, run once after set-up, untimed. */
  def setupChecks(spark: SparkSession): Seq[String]
  /** The op as traced spans: returns the problems found and the useful-work ratios. */
  def traced(spark: SparkSession, tr: Tracer): (Seq[String], Map[String, Double])

  protected var ref: Option[String] = None
  protected def sameAsRef(what: String, got: String): Seq[String] = ref match {
    case None => ref = Some(got); Nil
    case Some(r) if r == got => Nil
    case Some(r) => Seq(s"$what $got differs from the reference $r")
  }
  private var n = 0
  protected def freshDir(tag: String): Path = {
    n += 1
    val d = scratch.resolve(s"$tag-$n")
    Util.deleteTree(d)
    Files.createDirectories(d)
  }
}

object Workload {
  def apply(name: String, in: Inputs.Paths, scratch: Path): Workload = name match {
    case "kg_flagship" => new KgFlagship(in, scratch)
    case "curate_dedup" => new CurateDedup(in, scratch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("kg_flagship", "curate_dedup")

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  def tableRows(table: String): Long = TableIO.partitionRows(table).map(_._2).sum
}

/** Pipeline.triplesOver over the committed spans table + semi sidecar.
  * The traced run adds the write path as probes outside the op: the
  * text path committed through Checkpoint.runStage, a half-crash
  * resume (ResumeBench's protocol) and the TableIO read-back.
  */
final class KgFlagship(in: Inputs.Paths, scratch: Path) extends Workload(in, scratch) {
  val spans = Seq("sources.scan", "extraction.sentences", "extraction.lu_match",
    "classification.classify", "serialize.text_triples", "serialize.semi_triples",
    "serialize.union_dedup", "checkpoint.run_stage", "checkpoint.resume", "tableio.read")
  override val probes = Seq("checkpoint.run_stage", "checkpoint.resume", "tableio.read")
  private val Buckets = 16
  private var crash: Path = _
  private var refText: String = _

  /** The committed spans table, ingest-partitioned the way Pipeline.docsFor does. */
  private def spansDocs(spark: SparkSession): Dataset[Doc] = {
    import spark.implicits._
    TableIO.read(spark, in.spans).as[Doc]
      .repartition(Pipeline.ingestPartitions(spark), col("doc_id"))
  }

  private def semi(spark: SparkSession): Dataset[SemiDoc] = {
    import spark.implicits._
    spark.read.parquet(in.semi).as[SemiDoc]
  }

  def docs(spark: SparkSession): Long = Workload.tableRows(in.spans)

  def op(spark: SparkSession): OpResult = {
    val (cs, t) = Util.time(Util.checksum(Pipeline.triplesOver(spansDocs(spark), semi(spark))))
    OpResult(t, sameAsRef("triples checksum", cs))
  }

  def setupChecks(spark: SparkSession): Seq[String] = {
    val e = Serialize.evaluate(Pipeline.triplesOver(spansDocs(spark), semi(spark)),
      spark.read.parquet(in.gold)).first()
    val (p, r) = (e.getAs[Double]("precision"), e.getAs[Double]("recall"))
    println(f"perfbench: kg_flagship gold P=$p%.4f R=$r%.4f")
    (if (p < 0.95) Seq(f"precision $p%.4f < 0.95") else Nil) ++
      (if (r < 0.95) Seq(f"recall $r%.4f < 0.95") else Nil)
  }

  private def stage(docs: Dataset[Doc], ckpt: Path, out: Path): DataFrame =
    Checkpoint.runStage(docs, ckpt.toString, "kg", "text_path", Buckets, out.toString)(
      d => Pipeline.textPath(d))

  /** The state a crash leaves after committing only the lower half of
    * the buckets: their output, and checkpoint rows for them only.
    */
  private def prepareCrash(spark: SparkSession): Path = {
    import spark.implicits._
    val dir = freshDir("crash")
    val lower = spansDocs(spark).withColumn("b", Checkpoint.bucketOf(Buckets))
      .filter($"b" < Buckets / 2).drop("b").as[Doc]
    stage(lower, dir.resolve("ckpt_all"), dir.resolve("out"))
    Checkpoint.readTable(spark, dir.resolve("ckpt_all").toString)
      .filter($"partition_id" < Buckets / 2)
      .write.parquet(dir.resolve("ckpt").toString)
    Util.deleteTree(dir.resolve("ckpt_all"))
    dir
  }

  private def committedChecksum(spark: SparkSession, t: Path): String =
    Util.checksum(TableIO.read(spark, t.toString).drop("__bucket"))

  def traced(spark: SparkSession, tr: Tracer): (Seq[String], Map[String, Double]) = {
    import Util.noopRows
    val docs = spansDocs(spark)
    tr.chain()
    tr.span("sources.scan")(noopRows(docs.toDF()))
    val sents = Extraction.sentences(docs)
    val nSents = tr.span("extraction.sentences")(noopRows(sents.toDF()))
    val lus = Extraction.matchN2n(sents)
    val nLu = tr.span("extraction.lu_match")(noopRows(lus.toDF()))
    val cls = Classification.classify(lus,
      spark.sparkContext.broadcast(Classification.defaultModel))
    val nCls = tr.span("classification.classify")(noopRows(cls.toDF()))
    val text = Serialize.textTriples(cls)
    val nText = tr.span("serialize.text_triples")(noopRows(text))
    val semiT = Serialize.semiTriples(semi(spark))
    val nUnion = tr.span("serialize.semi_triples")(noopRows(text.unionByName(semiT)))
    var cs = ""
    val nOut = tr.span("serialize.union_dedup") {
      cs = Util.checksum(Serialize.unionDedup(text, semiT))
      Util.rowsOf(cs)
    }
    val problems = sameAsRef("triples checksum", cs)

    // write-path probes (not part of the op)
    if (crash == null) crash = prepareCrash(spark)
    if (refText == null) refText = Util.checksum(Pipeline.textPath(spansDocs(spark)))
    val dir = freshDir("probe")
    val (out, outR, ckptR) = (dir.resolve("out"), dir.resolve("out_r"), dir.resolve("ckpt_r"))
    tr.chain(probe = true)
    tr.span("checkpoint.run_stage") {
      stage(docs, dir.resolve("ckpt"), out); Workload.tableRows(out.toString)
    }
    Util.copyTree(crash.resolve("out"), outR)
    Util.copyTree(crash.resolve("ckpt"), ckptR)
    val copied = Util.treeBytes(dir)
    val ckptBefore = spark.read.parquet(ckptR.toString).count()
    tr.chain(probe = true)
    tr.span("checkpoint.resume") {
      stage(docs, ckptR, outR); Workload.tableRows(outR.toString)
    }
    var resumedCs = ""
    tr.chain(probe = true)
    tr.span("tableio.read") {
      resumedCs = committedChecksum(spark, outR); Util.rowsOf(resumedCs)
    }
    val written = Util.treeBytes(dir) - copied
    val resumed = spark.read.parquet(ckptR.toString).count() - ckptBefore
    val fullCs = committedChecksum(spark, out)
    val probeProblems =
      (if (fullCs != refText) Seq(s"committed text path $fullCs != text path $refText") else Nil) ++
      (if (resumedCs != refText) Seq(s"resumed text path $resumedCs != text path $refText") else Nil)
    Util.deleteTree(dir)
    val wall = tr.wallOf
    (problems ++ probeProblems, Map(
      "extraction.lu_hit_ratio" -> Workload.ratio(nLu, nSents),
      "classification.keep_ratio" -> Workload.ratio(nCls, nLu),
      "serialize.link_ratio" -> Workload.ratio(nText, nCls),
      "serialize.dedup_ratio" -> Workload.ratio(nOut, nUnion),
      "checkpoint.resume_frac" ->
        Workload.ratio(wall("checkpoint.resume"), wall("checkpoint.run_stage")),
      "checkpoint.write_amp" -> Workload.ratio(written, Util.treeBytes(Path.of(in.spans))),
      "checkpoint.resume_bucket_ratio" -> resumed.toDouble / Buckets))
  }
}

/** Curation funnel, then near-dup candidates -> verify -> clusters ->
  * canonical keep. The traced run adds probes outside the op: a fresh
  * batch against the committed dedup index (incremental pairs, then
  * the index append).
  */
final class CurateDedup(in: Inputs.Paths, scratch: Path) extends Workload(in, scratch) {
  val spans = Seq("curation.funnel", "dedup.candidates", "dedup.verify", "dedup.cc",
    "dedup.incremental", "dedup.index_append")
  override val probes = Seq("dedup.incremental", "dedup.index_append")
  private var refFunnel: Option[Seq[String]] = None
  private var index: Path = _

  private def raw(spark: SparkSession) = spark.read.parquet(in.curate)
  private def dedupDocs(spark: SparkSession) = raw(spark).select("doc_id", "text")
  private def batch(spark: SparkSession) = spark.read.parquet(in.batch).select("doc_id", "text")

  def docs(spark: SparkSession): Long = raw(spark).count()

  private def funnelRows(spark: SparkSession): Seq[String] =
    Curation.funnelOver(raw(spark)).collect().toSeq
      .map(r => s"${r.getAs[Int]("ord")}:${r.getAs[String]("stage")}:" +
        s"${r.getAs[Long]("n_docs")}:${r.getAs[Long]("n_tokens")}")
      .sorted

  private def candidates(docs: DataFrame): DataFrame =
    Dedup.minhashPairs(docs, 0.6).select("doc_a", "doc_b")
      .unionByName(Dedup.simhashPairs(docs, 3).select("doc_a", "doc_b"))
      .distinct()

  private def verified(docs: DataFrame, cand: DataFrame): DataFrame =
    Dedup.verifyPairs(docs, cand, 0.6)
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))

  private var state: Path = _

  /** Clusters with a TableIO state table of their own; the previous
    * op's table is deleted first, so scratch space does not grow with
    * the loop.
    */
  private def clusters(edges: DataFrame): DataFrame = {
    if (state != null) Util.deleteTree(state)
    state = freshDir("cc")
    Dedup.clusters(edges, stateTable = Some(state.resolve("labels").toString),
      runId = state.getFileName.toString)
  }


  /** Incremental pairs of the fresh batch against a copy of the
    * committed corpus index, then the batch's index append; every
    * batch twin must pair with its base doc.
    */
  private def incrementalProbe(spark: SparkSession, tr: Tracer): Seq[String] = {
    if (index == null) {
      index = freshDir("index").resolve("table")
      Dedup.writeIndex(dedupDocs(spark), index.toString)
    }
    val opIndex = freshDir("probe-index").resolve("table")
    Util.copyTree(index, opIndex)
    var pairs = Set.empty[(String, String)]
    tr.chain(probe = true)
    tr.span("dedup.incremental") {
      pairs = Dedup.incrementalPairsIndexed(Dedup.readIndex(spark, opIndex.toString),
          batch(spark), 0.6)
        .select("doc_new", "doc_other").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      pairs.size.toLong
    }
    val before = Workload.tableRows(opIndex.toString)
    tr.chain(probe = true)
    val appended = tr.span("dedup.index_append") {
      Dedup.appendIndex(batch(spark), opIndex.toString, "batch")
      Workload.tableRows(opIndex.toString) - before
    }
    val expected = spark.read.parquet(in.batch).select("doc_id", "base_id").collect()
      .map(r => (r.getLong(0).toString, r.getLong(1).toString))
    val missed = expected.count(p => !pairs.contains(p))
    Util.deleteTree(opIndex.getParent)
    (if (missed > 0) Seq(s"$missed of ${expected.length} batch twins not paired with their base") else Nil) ++
      (if (appended != expected.length.toLong * Dedup.Bands) Seq(s"index append committed $appended rows") else Nil)
  }

  private def stageDocs(funnel: Seq[String], stage: String): Double =
    funnel.map(_.split(':')).find(_(1) == stage).map(_(2).toDouble).getOrElse(0.0)

  /** Funnel rows and the kept corpus repeat exactly, and every planted
    * twin shares its base doc's cluster.
    */
  private def check(spark: SparkSession, funnel: Seq[String], cl: DataFrame,
                    keptCs: String): Seq[String] = {
    val funnelProblem = refFunnel match {
      case None => refFunnel = Some(funnel); Nil
      case Some(r) if r == funnel => Nil
      case Some(r) => Seq(s"funnel rows ${funnel.mkString(",")} differ from ${r.mkString(",")}")
    }
    val reps = cl.select("doc_id", "cluster_rep")
    val lost = spark.read.parquet(in.twins).as("t")
      .join(reps.as("a"), col("t.doc_id") === col("a.doc_id"), "left")
      .join(reps.as("b"), col("t.base_id") === col("b.doc_id"), "left")
      .filter(col("a.cluster_rep").isNull || col("b.cluster_rep").isNull ||
        col("a.cluster_rep") =!= col("b.cluster_rep"))
      .count()
    funnelProblem ++ sameAsRef("canonical-keep checksum", keptCs) ++
      (if (lost > 0) Seq(s"$lost planted twins outside their base doc's cluster") else Nil)
  }

  def op(spark: SparkSession): OpResult = {
    val docs = dedupDocs(spark)
    val ((funnel, cl, keptCs), t) = Util.time {
      val funnel = funnelRows(spark)
      val cl = clusters(verified(docs, candidates(docs)))
      (funnel, cl, Util.checksum(Dedup.canonicalKeep(docs, cl)))
    }
    OpResult(t, check(spark, funnel, cl, keptCs))
  }

  def setupChecks(spark: SparkSession): Seq[String] = {
    val n = spark.read.parquet(in.twins).count()
    println(s"perfbench: curate_dedup docs=${docs(spark)} planted_twins=$n " +
      s"batch=${spark.read.parquet(in.batch).count()}")
    if (n == 0) Seq("no planted twins") else Nil
  }

  def traced(spark: SparkSession, tr: Tracer): (Seq[String], Map[String, Double]) = {
    val docs = dedupDocs(spark)
    tr.chain()
    var funnel = Seq.empty[String]
    tr.span("curation.funnel") { funnel = funnelRows(spark); funnel.size.toLong }
    tr.chain()
    val cand = candidates(docs)
    val nCand = tr.span("dedup.candidates")(Util.noopRows(cand))
    val edges = verified(docs, cand)
    val nVer = tr.span("dedup.verify")(Util.noopRows(edges))
    var cl: DataFrame = null
    var keptCs = ""
    tr.span("dedup.cc") {
      cl = clusters(edges)
      keptCs = Util.checksum(Dedup.canonicalKeep(docs, cl))
      Util.rowsOf(keptCs)
    }
    (check(spark, funnel, cl, keptCs) ++ incrementalProbe(spark, tr), Map(
      "curation.survival_ratio" -> Workload.ratio(stageDocs(funnel, "dedup"), stageDocs(funnel, "raw")),
      "dedup.verify_ratio" -> Workload.ratio(nVer, nCand)))
  }
}
