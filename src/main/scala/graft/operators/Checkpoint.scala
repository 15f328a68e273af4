package graft.operators

import graft.model.{CheckpointRow, Doc}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + metrics checkpoint table enabling resumable
  * runs (BASELINE.json north_rule). The unit of resume is the doc_id
  * hash bucket: docs are assigned `bucket = pmod(hash(doc_id), P)`;
  * after a stage commits a bucket, a checkpoint row is appended; a
  * resumed run anti-joins completed buckets (SURVEY.md §2.4 J6) and
  * recomputes only the missing ones.
  */
object Checkpoint {

  def bucketOf(p: Int) = pmod(hash(col("doc_id")), lit(p))

  /** Compute per-bucket lineage/metrics rows for a stage output.
    * If the stage output carries a boolean `sig_ok` column (the span
    * invariant, Serialize.spanInvariant), the bucket is ok only when
    * every row passed; outputs without the column record `true`.
    */
  def stageMetrics(triples: DataFrame, runId: String, stage: String,
                   buckets: Int, wallMs: Long): DataFrame = {
    val sigOk: org.apache.spark.sql.Column =
      if (triples.columns.contains("sig_ok")) min(col("sig_ok")) else min(lit(true))
    triples
      .withColumn("bucket", bucketOf(buckets))
      .groupBy(col("bucket"))
      .agg(
        countDistinct(col("doc_id")).as("doc_count"),
        count(lit(1)).as("triple_count"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sigOk.as("spans_sig_ok"))
      .select(
        lit(runId).as("run_id"), lit(stage).as("stage"),
        col("bucket").cast("int").as("partition_id"),
        col("doc_count"), col("triple_count"), col("min_doc"), col("max_doc"),
        lit(wallMs).as("wall_ms"), col("spans_sig_ok"),
        lit("ok").as("status"))
  }

  /** Append checkpoint rows to the checkpoint table. */
  def append(rows: DataFrame, table: String): Unit =
    rows.write.mode(SaveMode.Append).parquet(table)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  /** Resume filter: keep only docs whose bucket has NO ok checkpoint
    * row for (runId, stage) — a left_anti join on the bucket key.
    */
  def pendingDocs(docs: Dataset[Doc], checkpoint: DataFrame,
                  runId: String, stage: String, buckets: Int): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    val done = checkpoint
      .filter(col("run_id") === runId && col("stage") === stage && col("status") === "ok")
      .select(col("partition_id").as("bucket")).distinct()
    docs.withColumn("bucket", bucketOf(buckets))
      .join(broadcast(done), Seq("bucket"), "left_anti")
      .drop("bucket")
      .as[Doc]
  }

  /** The checkpoint table, or an empty one while it holds no committed
    * data: the directory is absent, or has only hidden entries (a crash
    * during the first append leaves just `_temporary`). Any other read
    * failure — a corrupt part file — propagates: reading it as "no
    * progress" would silently recompute and re-append every bucket.
    */
  private def ckptOrEmpty(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(path) &&
      fs.listStatus(path).map(_.getPath.getName).exists(n => !n.startsWith("_") && !n.startsWith("."))
    if (hasData) readTable(spark, table) else spark.emptyDataset[CheckpointRow].toDF()
  }

  private def okBuckets(ckpt: DataFrame, runId: String, stage: String): Set[Int] =
    ckpt.filter(col("run_id") === runId && col("stage") === stage &&
        col("status") === "ok")
      .select(col("partition_id").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Run a stage with checkpointing, write-then-metrics (round-1
    * VERDICT #4): the stage output is committed to `outTable` FIRST —
    * that write is the ONLY computation of the stage — then metrics
    * derive from the committed files and the returned DataFrame is a
    * read of the committed table, so the caller's action never
    * recomputes the stage. Every pending bucket gets a checkpoint row,
    * including buckets that yielded zero output rows — otherwise a
    * resume would recompute empty buckets forever.
    *
    * Crash-safety (round-2 advisor finding): snapshots commit via
    * TableIO's atomic manifest — a crash MID-WRITE leaves an orphan
    * directory no read touches, so the resume recomputes the bucket
    * with no duplication. A crash BETWEEN snapshot commit and the
    * checkpoint-row append is closed by the RECONCILE pass below:
    * buckets already present in the committed table but missing their
    * checkpoint rows get rows derived from the committed data — never
    * recomputed, never re-appended.
    */
  def runStage(docs: Dataset[Doc], checkpointTable: String, runId: String,
               stage: String, buckets: Int, outTable: String)
              (body: Dataset[Doc] => DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import graft.sources.TableIO

    // the stage output table belongs to exactly one (runId, stage):
    // adopting another run's committed buckets as this run's work (or
    // unioning two runs' rows in the returned read) must fail loudly,
    // not silently — every committed snapshot id must match ours
    val snapId = s"$runId-$stage"
    val foreign = TableIO.snapshotIds(outTable).filterNot(_ == snapId)
    require(foreign.isEmpty,
      s"outTable $outTable already holds snapshots of ${foreign.mkString(",")} — " +
        s"one output table per (runId, stage); this run is $snapId")

    def bucketOfPath(p: String): Option[Int] =
      if (p.startsWith("__bucket=")) Some(p.stripPrefix("__bucket=").toInt) else None

    // reconcile committed-but-unrecorded buckets
    val done0 = okBuckets(ckptOrEmpty(spark, checkpointTable), runId, stage)
    if (TableIO.manifest(outTable).isDefined) {
      val committedBuckets = TableIO.partitionRows(outTable)
        .map(_._1).flatMap(bucketOfPath).toSet
      val unrecorded = committedBuckets -- done0
      if (unrecorded.nonEmpty) {
        val prev = TableIO.readWhere(spark, outTable,
          p => bucketOfPath(p).exists(unrecorded.contains))
        append(stageMetrics(prev.drop("__bucket"), runId, stage, buckets, 0L)
          .select(checkpointCols: _*), checkpointTable)
      }
    }

    val existing = ckptOrEmpty(spark, checkpointTable)
    val done = okBuckets(existing, runId, stage)
    val pendingIds = (0 until buckets).filterNot(done).toSet
    val pending = pendingDocs(docs, existing, runId, stage, buckets)
    val t0 = System.currentTimeMillis()
    // snapshot partitioned by the resume unit: later reads (metrics
    // below, a resumed run's reconcile) prune to the buckets they need
    TableIO.write(body(pending).withColumn("__bucket", bucketOf(buckets)),
      outTable, partitionBy = Seq("__bucket"),
      snapshotId = s"$runId-$stage",
      mode = org.apache.spark.sql.SaveMode.Append)
    val wallMs = System.currentTimeMillis() - t0
    // metrics from ONLY the pending buckets' committed partitions
    // (manifest-driven pruning), plus a zero row for every pending
    // bucket the output skipped entirely
    val wrotePending = TableIO.partitionRows(outTable).map(_._1)
      .exists(p => bucketOfPath(p).exists(pendingIds.contains))
    val base =
      if (wrotePending)
        stageMetrics(
          TableIO.readWhere(spark, outTable,
            p => bucketOfPath(p).exists(pendingIds.contains))
            .drop("__bucket"),
          runId, stage, buckets, wallMs)
      else // zero rows committed for the pending buckets: all-zero rows
        stageMetrics(spark.range(0).select(col("id").cast("string").as("doc_id")),
          runId, stage, buckets, wallMs)
    val allPending = spark.range(buckets)
      .select(col("id").cast("int").as("partition_id"))
      .filter(col("partition_id").isInCollection(pendingIds))
    val rows = allPending.join(base, Seq("partition_id"), "left")
      .select(
        coalesce(col("run_id"), lit(runId)).as("run_id"),
        coalesce(col("stage"), lit(stage)).as("stage"),
        col("partition_id"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        coalesce(col("triple_count"), lit(0L)).as("triple_count"),
        col("min_doc"), col("max_doc"),
        coalesce(col("wall_ms"), lit(wallMs)).as("wall_ms"),
        coalesce(col("spans_sig_ok"), lit(true)).as("spans_sig_ok"),
        lit("ok").as("status"))
    append(rows, checkpointTable)
    TableIO.read(spark, outTable).drop("__bucket")
  }

  private val checkpointCols = Seq(
    "run_id", "stage", "partition_id", "doc_count", "triple_count",
    "min_doc", "max_doc", "wall_ms", "spans_sig_ok", "status").map(col)
}
