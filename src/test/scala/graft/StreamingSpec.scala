package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._

/** Structured-Streaming surface: streaming triples == batch triples on
  * the same input; windowed event aggregation runs under AvailableNow.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("streaming pipeline output equals batch text-path output") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("strm")
    val sfDir = "/root/testdata/sf0.001"
    // a directory input: a file would be re-staged into a fresh temp
    // dir per call, so a re-run would not resume the same stream
    val in = Files.createDirectory(dir.resolve("in"))
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), in.resolve("documents.parquet"))
    def run() = Streaming.runAvailableNow(spark, in.toString, s"$dir/ckpt", s"$dir/out")
    def streamed() = spark.read.parquet(s"$dir/out")
      .select($"doc_id", $"subj", $"value_key")
      .collect().map(_.toString).sorted.toSeq
    val n = run()
    assert(n > 0)
    val docs = Pipeline.docsFor(spark, sfDir)
    val batch = graft.operators.Serialize.unionDedup(
      Pipeline.textPath(docs), Pipeline.textPath(docs).limit(0))
      .select($"doc_id", $"subj", $"value_key")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed() === batch)
    // crash between a batch's sink write and its commit: the replayed
    // batch must replace its output, not add a second copy. The commit
    // goes with its checksum sibling, as a commit never written would.
    val commits = dir.resolve("ckpt/commits")
    val last = commits.toFile.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    assert(run() === n)
    assert(streamed() === batch)
  }

  test("flatMapGroupsWithState assembles docs from spans split across batches") {
    import graft.model.{Doc, Span}
    import graft.streaming.Streaming.SpanEvent
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[SpanEvent]
    val q = Streaming.assembleDocs(src.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("assembled_docs").start()

    // batch 1: docB complete; docA only half-arrived
    src.addData(
      SpanEvent("docA", "text", "Alice was born.", null, 0, last = false),
      SpanEvent("docB", "text", "Bob died.", null, 0, last = false),
      SpanEvent("docB", "media", null, "media://img/b", 1, last = true))
    q.processAllAvailable()
    val after1 = spark.table("assembled_docs").as[Doc].collect()
    assert(after1.map(_.doc_id).toSet === Set("docB"))

    // batch 2: docA's remaining spans arrive (out of order) + terminator
    src.addData(
      SpanEvent("docA", "media", null, "media://img/a", 2, last = false),
      SpanEvent("docA", "text", "She lived here.", null, 1, last = true))
    q.processAllAvailable()
    q.stop()

    val docs = spark.table("assembled_docs").as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(docs.keySet === Set("docA", "docB"))
    // span-sequence invariant: offset order, nothing dropped/reordered
    assert(docs("docA") === Seq(
      Span("text", "Alice was born.", null, 0),
      Span("text", "She lived here.", null, 1),
      Span("media", null, "media://img/a", 2)))
    assert(docs("docB") === Seq(
      Span("text", "Bob died.", null, 0),
      Span("media", null, "media://img/b", 1)))
  }

  test("assembleGroup timeout branch: partial doc emitted, state evicted") {
    import graft.model.{Doc, Span}
    import graft.streaming.Streaming.{AsmState, SpanEvent}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

    // arrival batch with no terminator: state buffered, timeout armed
    val s1 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.empty[AsmState](), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out1 = Streaming.assembleGroup(60000L)("docX",
      Iterator(SpanEvent("docX", "text", "Orphan span.", null, 0, last = false)), s1)
    assert(out1.isEmpty)
    assert(s1.exists && s1.get === AsmState(Seq(Span("text", "Orphan span.", null, 0)), done = false))
    assert(s1.getTimeoutTimestampMs.isPresent)

    // timeout fires (terminator lost): partial doc out, state removed
    val s2 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.of(AsmState(Seq(Span("text", "Orphan span.", null, 0)), done = false)),
      GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val out2 = Streaming.assembleGroup(60000L)("docX", Iterator.empty, s2).toSeq
    assert(out2 === Seq(Doc("docX", Seq(Span("text", "Orphan span.", null, 0)))))
    assert(s2.isRemoved)

    // timed-out group with empty state emits nothing
    val s3 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.empty[AsmState](), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    assert(Streaming.assembleGroup(60000L)("docZ", Iterator.empty, s3).isEmpty)
  }

  test("completed-doc tombstone drops post-terminator stragglers (no dup doc)") {
    import graft.model.{Doc, Span}
    import graft.streaming.Streaming.{AsmState, SpanEvent}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

    // terminator arrives: doc emitted, tombstone (done=true) left behind
    val s1 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.empty[AsmState](), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out1 = Streaming.assembleGroup(60000L)("docY",
      Iterator(SpanEvent("docY", "text", "Done.", null, 0, last = true)), s1).toSeq
    assert(out1 === Seq(Doc("docY", Seq(Span("text", "Done.", null, 0)))))
    assert(s1.exists && s1.get === AsmState(Seq.empty, done = true))

    // a straggler reordered past the terminator: dropped, NOT re-opened
    val s2 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.of(AsmState(Seq.empty, done = true)),
      GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out2 = Streaming.assembleGroup(60000L)("docY",
      Iterator(SpanEvent("docY", "text", "Straggler.", null, 1, last = false)), s2)
    assert(out2.isEmpty)
    assert(s2.exists && s2.get.done)

    // the tombstone itself expires silently on timeout
    val s3 = TestGroupState.create[AsmState](
      org.apache.spark.api.java.Optional.of(AsmState(Seq.empty, done = true)),
      GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    assert(Streaming.assembleGroup(60000L)("docY", Iterator.empty, s3).isEmpty)
    assert(s3.isRemoved)
  }

  test("watermarked window aggregation over the events stream") {
    val out = Streaming.eventWindowCounts(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    val total = out.agg(sum($"n")).collect()(0).getLong(0)
    val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(total === expected)
  }

  test("watermarked dedup collapses the double-fed stream to the raw table") {
    val sfDir = "/root/testdata/sf0.001"
    val out = Streaming.dedupedEventCounts(spark, sfDir)
    val total = out.agg(sum($"n_events")).collect()(0).getLong(0)
    val raw = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(total === raw) // 2x ingested, exactly-once out
  }

  test("streamed curation ingest equals the batch-derived admitted set") {
    import graft.operators.{Curation, TextAnalysis}
    val sfDir = "/root/testdata/sf0.001"
    val out = Streaming.curatedIngest(spark, sfDir)
    // batch reference: gates -> anti-join vs standing fingerprints ->
    // md5 dedup (min doc per fingerprint), same rules composed lazily
    val docs = Curation.planted(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id", $"source", $"text"))
    val (_, _, score) = TextAnalysis.learnedFeatures($"text")
    val corpusFp = docs.filter($"doc_id" < 480)
      .select(md5(to_binary(TextAnalysis.piiScrubbed($"text"), lit("utf-8")))
        .as("scrub_md5")).distinct()
    val admitted = docs
      .filter($"doc_id" >= 480 || ($"doc_id" < 480 && $"doc_id" % 50 === 1))
      .filter(TextAnalysis.langId($"text") === "en" && score > 0)
      .withColumn("t_s", TextAnalysis.piiScrubbed($"text"))
      .withColumn("scrub_md5", md5(to_binary($"t_s", lit("utf-8"))))
      .withColumn("n_tokens", size(TextAnalysis.toks($"t_s")))
      .join(corpusFp, Seq("scrub_md5"), "left_anti")
      .groupBy($"scrub_md5")
      .agg(min($"doc_id").as("doc_id"),
        min_by($"source", $"doc_id").as("source"),
        min($"n_tokens").as("n_tokens"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens".cast("long")).as("n_tokens"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
    val a = out.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val b = admitted.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(a.toSeq === b.toSeq)
    // every admitted doc is genuinely new: re-crawls (old ids) are out
    assert(out.agg(min($"min_doc")).collect()(0).getLong(0) >= 480)
  }

  test("stateful dedup drops a LATE duplicate arriving in a later batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val q = src.toDS().toDF("event_id", "ts", "payload")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_late").start()
    src.addData((1L, ts(0), "a"), (2L, ts(5), "b"))
    q.processAllAvailable()
    // batch 2: event 1 again (late duplicate, within the watermark) + a
    // genuinely new event — only the new one may emerge
    src.addData((1L, ts(0), "a"), (3L, ts(10), "c"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_late").select($"event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }
}
