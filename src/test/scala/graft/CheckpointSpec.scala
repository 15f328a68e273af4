package graft

import graft.operators.{Checkpoint, Serialize}
import graft.sources.{Corpus, TableIO}
import org.apache.spark.sql.functions._

/** Resumable runs: checkpoint rows per bucket; a rerun after partial
  * completion recomputes only missing buckets and reproduces the
  * identical final triple set (SURVEY.md §5 resume test).
  */
class CheckpointSpec extends SparkSuite {
  import spark.implicits._

  val Buckets = 8

  test("resume recomputes only missing buckets; final triples identical") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val ckptTable = s"$dir/checkpoint"
    val docs = Corpus.fixtureCorpus(spark, 80)

    // full run (reference output)
    val full = Pipeline.textPath(docs)
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq

    // run 1: checkpointed (stage output committed to its own table)
    val out1 = Checkpoint.runStage(docs, ckptTable, "run1", "triples", Buckets,
      s"$dir/out1")(d => Pipeline.textPath(d))
    out1.count()
    val ck1 = Checkpoint.readTable(spark, ckptTable)
    val nBuckets1 = ck1.select("partition_id").distinct().count()
    assert(nBuckets1 === Buckets)

    // simulate partial failure: drop half the checkpoint rows
    val kept = ck1.filter($"partition_id" < Buckets / 2)
    val ckptTable2 = s"$dir/checkpoint2"
    kept.write.parquet(ckptTable2)

    // resumed run: pending = only buckets >= Buckets/2
    val pending = Checkpoint.pendingDocs(docs,
      Checkpoint.readTable(spark, ckptTable2), "run1", "triples", Buckets)
    val pendingBuckets = pending.toDF()
      .select(Checkpoint.bucketOf(Buckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(pendingBuckets.forall(_ >= Buckets / 2))
    assert(pending.count() < docs.count() && pending.count() > 0)

    // recompute pending only, union with the previously-done buckets
    val redone = Pipeline.textPath(pending)
    val doneBefore = Pipeline.textPath(
      docs.withColumn("bucket", Checkpoint.bucketOf(Buckets))
        .filter($"bucket" < Buckets / 2).drop("bucket").as[graft.model.Doc])
    val resumed = doneBefore.unionByName(redone)
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq
    assert(resumed === full)
  }

  test("runStage resume: second run completes the table, rows for every bucket") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_rs").toString
    val ckptTable = s"$dir/checkpoint"
    val outTable = s"$dir/stage_out"
    val docs = Corpus.fixtureCorpus(spark, 80)
    val full = Pipeline.textPath(docs)
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq

    // run 1 over half the buckets only (simulate a partial run by
    // pre-marking the other half as NOT pending via a fake body filter)
    Checkpoint.runStage(
      docs.withColumn("b", Checkpoint.bucketOf(Buckets))
        .filter($"b" < Buckets / 2).drop("b").as[graft.model.Doc],
      ckptTable, "run1", "triples", Buckets, outTable)(d => Pipeline.textPath(d))
    // every bucket got a row (the doc-less upper half records zero counts)
    val ck1 = Checkpoint.readTable(spark, ckptTable)
    assert(ck1.select("partition_id").distinct().count() === Buckets)
    // wipe the upper-half rows to mark them pending again
    val ckptTable2 = s"$dir/checkpoint2"
    ck1.filter($"partition_id" < Buckets / 2).write.parquet(ckptTable2)

    // run 2 resumes: only upper-half buckets recompute and APPEND
    val out2 = Checkpoint.runStage(docs, ckptTable2, "run1", "triples",
      Buckets, outTable)(d => Pipeline.textPath(d))
    val resumed = out2
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq
    assert(resumed === full) // committed table now holds the complete stage output
  }

  test("stage metrics rows carry lineage columns") {
    val docs = Corpus.fixtureCorpus(spark, 40)
    val m = Checkpoint.stageMetrics(Pipeline.textPath(docs), "r1", "triples", 4, 12L)
      .collect()
    assert(m.length === 4)
    m.foreach { r =>
      assert(r.getAs[Long]("doc_count") > 0)
      assert(r.getAs[String]("min_doc") <= r.getAs[String]("max_doc"))
      assert(r.getAs[String]("status") === "ok")
    }
  }

  test("orphan snapshot dirs (crash mid-write) are invisible to reads") {
    val dir = java.nio.file.Files.createTempDirectory("tio_orphan").toString
    val table = s"$dir/t"
    TableIO.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), table, snapshotId = "good")
    // a crashed attempt: data files written, but no manifest commit
    Seq((99, "ORPHAN"), (98, "ORPHAN")).toDF("id", "v")
      .write.parquet(s"$table/snap-crashed-attempt")
    val rows = TableIO.read(spark, table).collect().map(_.getInt(0)).sorted.toSeq
    assert(rows === Seq(1, 2)) // orphan rows never surface
    assert(TableIO.read(spark, table).inputFiles.forall(!_.contains("snap-crashed-attempt")))
  }

  test("readWhere prunes to the manifest's listed partitions only") {
    val dir = java.nio.file.Files.createTempDirectory("tio_prune").toString
    val table = s"$dir/t"
    val df = (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "b")
    TableIO.write(df, table, partitionBy = Seq("b"), snapshotId = "s1")
    TableIO.write((40 until 60).map(i => (i.toLong, i % 4)).toDF("id", "b"),
      table, partitionBy = Seq("b"), snapshotId = "s2",
      mode = org.apache.spark.sql.SaveMode.Append)
    // per-partition row counts recorded across snapshots
    assert(TableIO.partitionRows(table).toMap === Map(
      "b=0" -> 15L, "b=1" -> 15L, "b=2" -> 15L, "b=3" -> 15L))
    val pruned = TableIO.readWhere(spark, table, _ == "b=2")
    assert(pruned.count() === 15)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("/b=2/")), pruned.inputFiles.mkString(","))
    assert(pruned.select("b").distinct().collect().map(_.getInt(0)).toSeq === Seq(2))
  }

  test("crash between snapshot commit and checkpoint append: reconciled, no dup rows") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_crash").toString
    val ckptTable = s"$dir/checkpoint"
    val outTable = s"$dir/out"
    val docs = Corpus.fixtureCorpus(spark, 80)

    // full successful run
    val out1 = Checkpoint.runStage(docs, ckptTable, "run1", "triples", Buckets,
      outTable)(d => Pipeline.textPath(d))
    val fullRows = out1.count()
    val fullSorted = out1
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq

    // simulate the crash window: the snapshot committed, but the
    // checkpoint rows for buckets >= Buckets/2 were never appended
    val ck = Checkpoint.readTable(spark, ckptTable)
    val ckptTable2 = s"$dir/checkpoint2"
    ck.filter($"partition_id" < Buckets / 2).write.parquet(ckptTable2)

    // resumed run: reconcile must record the committed buckets WITHOUT
    // recomputing them — table content identical, no duplicates
    val out2 = Checkpoint.runStage(docs, ckptTable2, "run1", "triples", Buckets,
      outTable)(d => Pipeline.textPath(d))
    assert(out2.count() === fullRows)
    val resumedSorted = out2
      .select($"doc_id", $"subj", $"pred", coalesce($"obj_qid", $"obj_text").as("o"))
      .collect().map(_.toString).sorted.toSeq
    assert(resumedSorted === fullSorted)
    // and the checkpoint is complete again
    val ck2 = Checkpoint.readTable(spark, ckptTable2)
    assert(ck2.filter($"status" === "ok")
      .select("partition_id").distinct().count() === Buckets)
  }

  test("expireOrphans removes crashed attempts and overwritten snapshots only") {
    val dir = java.nio.file.Files.createTempDirectory("tio_expire").toString
    val table = s"$dir/t"
    TableIO.write(Seq((1, "a")).toDF("id", "v"), table, snapshotId = "gen1")
    TableIO.write(Seq((2, "b")).toDF("id", "v"), table, snapshotId = "gen2") // Overwrite: gen1 unreferenced
    Seq((99, "x")).toDF("id", "v").write.parquet(s"$table/snap-crashed") // orphan
    val removed = TableIO.expireOrphans(table)
    assert(removed.exists(_.startsWith("snap-gen1")), removed.toString)
    assert(removed.contains("snap-crashed"), removed.toString)
    // the committed snapshot survives and still reads
    val rows = TableIO.read(spark, table).collect().map(_.getInt(0)).toSeq
    assert(rows === Seq(2))
    assert(TableIO.expireOrphans(table).isEmpty) // idempotent
  }

  test("runStage refuses an outTable already committed by a different run/stage") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_foreign").toString
    val docs = Corpus.fixtureCorpus(spark, 20)
    Checkpoint.runStage(docs, s"$dir/ckpt1", "run1", "triples", 4,
      s"$dir/out")(d => Pipeline.textPath(d))
    // a different runId must not silently adopt (or union with) run1's
    // committed buckets in the same output table
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runStage(docs, s"$dir/ckpt2", "run2", "triples", 4,
        s"$dir/out")(d => Pipeline.textPath(d))
    }
    assert(e.getMessage.contains("run1-triples"), e.getMessage)
  }

  test("checkpoint table with no committed data is no progress; a corrupt one throws") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_read").toString
    val docs = Corpus.fixtureCorpus(spark, 20)
    // a crash during the first append leaves only _temporary behind
    val ckpt = java.nio.file.Paths.get(dir, "ckpt")
    java.nio.file.Files.createDirectories(ckpt.resolve("_temporary").resolve("0"))
    Checkpoint.runStage(docs, ckpt.toString, "run1", "triples", 4,
      s"$dir/out1")(d => Pipeline.textPath(d))
    assert(Checkpoint.readTable(spark, ckpt.toString)
      .select("partition_id").distinct().count() === 4)
    // a corrupt part file is a read failure, never "nothing done yet"
    val bad = java.nio.file.Paths.get(dir, "bad_ckpt")
    java.nio.file.Files.createDirectories(bad)
    java.nio.file.Files.write(bad.resolve("part-00000-corrupt.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      Checkpoint.runStage(docs, bad.toString, "run1", "triples", 4,
        s"$dir/out2")(d => Pipeline.textPath(d))
    }
    assert(TableIO.manifest(s"$dir/out2").isEmpty, "stage ran over a corrupt checkpoint")
  }

  test("TableIO manifest commit + read-back") {
    val dir = java.nio.file.Files.createTempDirectory("tio").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val m = TableIO.write(df, s"$dir/t1", partitionBy = Seq("v"), snapshotId = "snap-1")
    assert(m.rowCount === 2)
    assert(TableIO.read(spark, s"$dir/t1").count() === 2)
    assert(TableIO.manifest(s"$dir/t1").get.contains("snap-1"))
    intercept[IllegalArgumentException] {
      TableIO.read(spark, s"$dir/never-written")
    }
  }

  test("string partition values with spaces/slashes round-trip the manifest") {
    // Spark escapes partition directory names; the manifest must render
    // the same escaped form or readWhere silently matches nothing
    val dir = java.nio.file.Files.createTempDirectory("tio-esc").toString
    // "01" pins the numeric-looking-string case: stats read with
    // inference would re-type it int 1 and render a dead path
    val df = Seq((1, "a b"), (2, "x/y"), (3, "plain"), (4, null), (5, "01"))
      .toDF("id", "part")
    TableIO.write(df, s"$dir/t", partitionBy = Seq("part"), snapshotId = "s1")
    val byPart = TableIO.partitionRows(s"$dir/t").toMap
    assert(byPart.values.sum === 5)
    // every manifest path resolves to real on-disk data
    for ((p, _) <- byPart) {
      val got = TableIO.readWhere(spark, s"$dir/t", _ == p).count()
      assert(got === 1, s"partition path $p read back $got rows")
    }
    assert(byPart.keySet.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    assert(byPart.keySet.contains("part=01"), byPart.keySet.toString)
    assert(TableIO.read(spark, s"$dir/t").count() === 5)
    // unsupported partition value types fail loudly at write time
    intercept[IllegalArgumentException] {
      TableIO.write(
        Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts"),
        s"$dir/t2", partitionBy = Seq("ts"), snapshotId = "s1")
    }
  }

  test("a committed zero-row table reads back empty instead of failing resume") {
    val dir = java.nio.file.Files.createTempDirectory("tio-empty").toString
    val df = Seq((1, "a")).toDF("id", "v").filter($"id" > 99)
    TableIO.write(df, s"$dir/t", snapshotId = "s1")
    val back = TableIO.read(spark, s"$dir/t")
    assert(back.count() === 0)
    assert(back.columns.toSeq === Seq("id", "v"))
  }
}
