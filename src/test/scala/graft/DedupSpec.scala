package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup operators on planted near-duplicates. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  // 20 base docs + 3 planted near-dups (small edits) + 1 exact dup
  private lazy val docs = {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 20).map { i =>
      val toks = (0 until 40).map(j =>
        words(graft.util.Det.bounded(graft.util.Det.mix(i.toLong, j.toLong), words.length)))
      (i.toLong, toks.mkString(" "))
    }
    val nd1 = (100L, base(0)._2.replace("alpha", "omega"))   // ~1 token diff class
    val nd2 = (101L, base(1)._2 + " extra")                  // suffix insert
    val nd3 = (102L, base(2)._2)                             // exact dup of 2
    (base :+ nd1 :+ nd2 :+ nd3).toDF("doc_id", "text")
  }

  test("minhash signature: identical text -> identical sig; jaccard sane") {
    val s1 = Dedup.minhash("a b c d e f g h")
    val s2 = Dedup.minhash("a b c d e f g h")
    assert(s1.toSeq === s2.toSeq)
    assert(Dedup.sigJaccard(s1, s2) === 1.0)
    val s3 = Dedup.minhash("totally different words entirely here now")
    assert(Dedup.sigJaccard(s1, s3) < 0.3)
  }

  test("exact jaccard ground truth") {
    assert(Dedup.exactJaccard("a b c d e", "a b c d e") === 1.0)
    assert(Dedup.exactJaccard("a b c d e", "x y z w v") === 0.0)
  }

  test("minhash+LSH finds the planted near-dup pairs") {
    // doc ids are strings -> pairs are lexicographically ordered
    val pairs = Dedup.minhashPairs(docs, 0.5)
      .select($"doc_a", $"doc_b").collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(Set("1", "101")), s"pairs=$pairs")
    assert(pairs.contains(Set("2", "102")), s"pairs=$pairs")
    // base docs are hash-random; no high-jaccard pair among them
    assert(!pairs.exists(p => p.forall(_.toLong < 20)))
  }

  test("simhash: exact dup has distance 0 and is found by banding") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b", $"hamming".cast("long")).collect()
      .map(r => (Set(r.getString(0), r.getString(1)), r.getLong(2)))
    assert(pairs.exists(p => p._1 == Set("2", "102") && p._2 == 0L))
  }

  test("ngram jaccard verify stage confirms exact dup at 1.0") {
    val j = Dedup.ngramJaccardPairs(docs, 0.9)
      .filter(($"doc_a" === "2" && $"doc_b" === "102") ||
              ($"doc_a" === "102" && $"doc_b" === "2"))
      .select("jaccard").collect()
    assert(j.length === 1 && j(0).getDouble(0) === 1.0)
  }

  test("withPlantedDups: every planted twin is recovered by each stage") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wanted = (0L until 5L).map(i => Set(i.toString, (i + 1000000L).toString)).toSet

    val mh = Dedup.minhashPairs(Dedup.withPlantedDups(real, 5), 0.6)
      .collect().map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(wanted.subsetOf(mh), s"minhash missed ${wanted diff mh}")

    val sh = Dedup.simhashPairs(Dedup.withPlantedDups(real, 5, edit = false), 3)
      .filter($"hamming" === 0)
      .collect().map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(wanted.subsetOf(sh), s"simhash missed ${wanted diff sh}")

    val jc = Dedup.ngramJaccardPairs(Dedup.withPlantedDups(real, 5), 0.5)
      .collect().map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(wanted.subsetOf(jc), s"jaccard missed ${wanted diff jc}")
  }

  test("clusters: transitive chain collapses to one component, min rep") {
    // chain 1-2, 2-3, 3-4 plus separate pair 10-11: two components
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L)).toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(c.toSeq === Seq((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("clusters: 64-node chain converges in O(log d) rounds (pointer jump)") {
    // diameter-63 chain; propagation alone would need 63 rounds — the
    // pointer jump must close it within the 10-round cap
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs, maxIter = 10).collect()
    assert(c.length === 64)
    assert(c.forall(_.getLong(1) === 0L), "chain did not collapse to min label")
    assert(c.forall(_.getLong(2) === 64L))
  }

  test("clusters over planted twins: each twin joins its base's cluster") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.minhashPairs(Dedup.withPlantedDups(real, 5), 0.6)
      .select($"doc_a".cast("long").as("doc_a"), $"doc_b".cast("long").as("doc_b"))
    val reps = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach { i =>
      assert(reps(i + 1000000L) === reps(i), s"twin of $i not in its cluster")
      assert(reps(i) <= i) // representative is a minimum
    }
  }

  test("clusters with STRING ids: long chain still fully collapses") {
    // non-numeric ids void the label-sum convergence shortcut; the join
    // fallback must still drive the chain to a single component
    val pairs = (0 until 40)
      .map(i => (f"doc-$i%03d", f"doc-${i + 1}%03d")).toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs, maxIter = 12).collect()
    assert(c.length === 41)
    assert(c.forall(_.getString(1) === "doc-000"),
      c.map(r => (r.getString(0), r.getString(1))).toSeq.toString)
  }

  test("incrementalPairs: twins hit their old bases; no old-x-old pair") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withTwins = Dedup.withPlantedDups(real, 5)
    val corpus = withTwins.filter($"doc_id" < 1000000L)
    val fresh = withTwins.filter($"doc_id" >= 1000000L)
    val pairs = Dedup.incrementalPairsIndexed(Dedup.bandedSigs(corpus), fresh, 0.6).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // every planted twin is caught against its existing base
    (0L until 5L).foreach { i =>
      assert(pairs.contains(((i + 1000000L).toString, i.toString)),
        s"twin of $i missed: ${pairs.toSeq}")
    }
    // the left side is ALWAYS a new doc (no old-x-old candidates)
    assert(pairs.forall(_._1.toLong >= 1000000L), pairs.toSeq.toString)
  }

  test("clusters kill-mid-loop: resume from the committed round, identical output") {
    // a long chain forces many rounds; commitEvery=1 guarantees commits
    // before the injected crash. The crashed run dies right after the
    // round-2 snapshot commit; the rerun must RESUME (snapshot ids only
    // advance) and produce the byte-identical cluster table a never-
    // crashed run computes.
    import graft.sources.TableIO
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("cc-resume").toString
    val table = s"$dir/labels"
    val reference = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val ex = intercept[IllegalStateException] {
      Dedup.clustersImpl(pairs, 30, Some(table), 1, "cc", crashAfterRound = 2)
        .collect()
    }
    assert(ex.getMessage.contains("injected crash"))
    assert(TableIO.snapshotIds(table) === Seq("cc-round-2"))
    val resumed = Dedup.clusters(pairs, stateTable = Some(table), commitEvery = 1,
        runId = "cc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(resumed === reference)
    // the resumed run continued past round 2 — it never restarted at 0
    val lastRound = TableIO.snapshotIds(table).head.stripPrefix("cc-round-").toInt
    assert(lastRound > 2, s"resume restarted: last committed round $lastRound")
    // a DIFFERENT run id must refuse the foreign state loudly, never
    // silently resume on a stale node set
    val err = intercept[IllegalArgumentException] {
      Dedup.clusters(pairs, stateTable = Some(table), commitEvery = 1,
        runId = "cc-day2").collect()
    }
    assert(err.getMessage.contains("one state table per collapse run"))
  }

  test("clusters resume from an already-converged committed round commits nothing more") {
    // the path 1-2-3 reaches its fixpoint in round 0 (propagate + jump),
    // but round 0 cannot know it and commits; the crash follows that
    // commit. The resume must see the snapshot's labels unchanged in its
    // first round and stop there — no further cc-round-* snapshot.
    import graft.sources.TableIO
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val table = java.nio.file.Files.createTempDirectory("cc-conv").toString + "/labels"
    intercept[IllegalStateException] {
      Dedup.clustersImpl(pairs, 30, Some(table), 1, "cc", crashAfterRound = 0)
    }
    assert(TableIO.snapshotIds(table) === Seq("cc-round-0"))
    val resumed = Dedup.clusters(pairs, stateTable = Some(table), commitEvery = 1,
        runId = "cc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(resumed === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
    assert(TableIO.snapshotIds(table) === Seq("cc-round-0"))
  }

  test("verify gate: borderline est-only candidate no longer merges clusters") {
    // two genuine dup pairs (A,B) and (C,D) plus a BRIDGE candidate
    // (B,C) whose estimated similarity clears the threshold but whose
    // exact Jaccard does not: unverified CC would chain all four into
    // one cluster (and canonicalKeep would then delete C and D's
    // representative's twin); the verify gate must keep two clusters.
    val docsDf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (3L, "iota kappa lambda mu nu xi omicron pi"),
      (4L, "iota kappa lambda mu nu xi omicron pi") // dup of 3
    ).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (3L, 4L), (2L, 3L)) // (2,3) is the false bridge
      .toDF("doc_a", "doc_b")
    val verified = Dedup.verifyPairs(docsDf, cand, 0.6)
    val vPairs = verified.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(vPairs === Set(("1", "2"), ("3", "4")))
    val c = Dedup.clusters(
      verified.select($"doc_a".cast("long"), $"doc_b".cast("long")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(2L) === 1L && c(4L) === 3L && c(3L) === 3L, c.toString)
    // and WITHOUT the gate the bridge would have merged everything
    val unverified = Dedup.clusters(cand).collect()
      .map(_.getLong(1)).distinct.toSeq
    assert(unverified === Seq(1L))
  }

  test("committed index: write + append maintenance == fresh signatures") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter($"doc_id" < 400)
    val batch = real.filter($"doc_id" >= 400 && $"doc_id" < 450)
    val table = java.nio.file.Files.createTempDirectory("idx").toString + "/idx"
    Dedup.writeIndex(corpus, table)
    // incremental detection through the committed index == recompute form
    val viaIndex = Dedup.incrementalPairsIndexed(
        Dedup.readIndex(spark, table), batch, 0.3)
      .collect().map(_.toString).sorted.toSeq
    val recompute = Dedup.incrementalPairsIndexed(Dedup.bandedSigs(corpus), batch, 0.3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex === recompute)
    // maintenance: append the batch's signatures; the index now equals
    // fresh signatures of the grown corpus (tomorrow's increment joins
    // against it without re-minhashing anything)
    Dedup.appendIndex(batch, table, snapshotId = "batch-1")
    val maintained = Dedup.readIndex(spark, table)
      .select($"doc_id", $"band", $"bucket")
      .collect().map(_.toString).sorted.toSeq
    val fresh = Dedup.bandedSigs(real.filter($"doc_id" < 450))
      .select($"doc_id", $"band", $"bucket")
      .collect().map(_.toString).sorted.toSeq
    assert(maintained === fresh)
  }

  test("canonicalKeep drops exactly the non-representative members") {
    val docsDf = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val kept = Dedup.canonicalKeep(docsDf, Dedup.clusters(pairs))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 10L, 99L)) // reps survive; untouched doc 99 passes through
  }

  test("exact dedup groups identical normalized text") {
    val withDup = docs.withColumn("n_chars", length($"text"))
    val tmp = java.nio.file.Files.createTempDirectory("dedup").toString
    withDup.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val g = Dedup.exact(spark, tmp)
    assert(g.filter($"n_dups" === 2).count() === 1) // docs 2 & 102
    assert(g.agg(sum($"n_dups")).collect()(0).getLong(0) === 23)
  }
}
