package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val tmp: String = {
    // 60 deterministic 8-dim vectors in clusters + self-similar pairs
    val rows = (0 until 60).map { i =>
      val base = i % 6
      val vec = (0 until 8).map { d =>
        val c = if (d == base) 10.0f else 0.5f
        c + (graft.util.Det.bounded(graft.util.Det.mix(i.toLong, d.toLong), 100) / 100.0f)
      }
      (i.toLong, vec, base)
    }
    val dir = java.nio.file.Files.createTempDirectory("emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("cosine column matches hand computation") {
    val r = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(3.0, 4.0), Seq(3.0, 4.0)))
      .toDF("a", "b").select(Similarity.cosine($"a", $"b")).collect()
      .map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-9)
    assert(math.abs(r(1)) < 1e-9)
    assert(math.abs(r(2) - 1.0) < 1e-9)
  }

  test("brute-force top-k: neighbors share the query's cluster") {
    val top = Similarity.bruteForceTopK(spark, tmp, 5, 3)
    val joinedBad = top.as("t")
      .join(spark.read.parquet(s"$tmp/embeddings.parquet").as("e"),
        col("t.neighbor_id") === col("e.vec_id"))
      .filter(col("t.query_id") % 6 =!= col("e.label"))
      .count()
    assert(joinedBad === 0)
    assert(top.count() === 15) // 5 queries x k=3
  }

  test("LSH top-k achieves high recall vs brute force") {
    val exact = Similarity.bruteForceTopK(spark, tmp, 5, 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(spark, tmp, 5, 3, bits = 4, dim = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall exact=$exact approx=$approx")
    // guard: buckets must actually partition the corpus (a wrong dim
    // once nulled every projection and collapsed LSH to one bucket)
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("vec"))
    val nBuckets = emb.select(Similarity.lshBucket($"vec", 8, 4).as("b"))
      .distinct().count()
    assert(nBuckets > 1, "all vectors hashed to a single LSH bucket")
  }

  test("IVF top-k achieves high recall vs brute force") {
    val cents = Similarity.buildIvfCentroids(spark, tmp, 6, dim = 8)
    assert(cents.length > 1)
    val exact = Similarity.bruteForceTopK(spark, tmp, 5, 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(spark, tmp, cents, 5, 3, nprobe = 2)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall exact=$exact approx=$approx")
  }

  test("ivfRecall: per-query recall vs brute ≥ 0.8 on the clustered corpus") {
    val cents = Similarity.buildIvfCentroids(spark, tmp, 6, dim = 8)
    val rec = Similarity.ivfRecall(spark, tmp, cents, 5, 3, nprobe = 2)
      .collect().map(r => r.getAs[Double]("recall"))
    assert(rec.length === 5)
    assert(rec.forall(_ >= 0.8), rec.toSeq.toString)
  }

  test("quantized-corpus IVF: recall vs the FLOAT exact baseline stays high") {
    // the int8 round-trip must not collapse neighbor ranking: per-dim
    // quantization noise is range/255, far below the cluster separation
    val cents = Similarity.buildIvfCentroids(spark, tmp, 6, dim = 8)
    val rec = Similarity.ivfQuantRecall(spark, tmp, cents, 5, 3, nprobe = 2, dim = 8)
      .collect().map(r => r.getAs[Double]("recall"))
    assert(rec.length === 5)
    assert(rec.forall(_ >= 0.8), rec.toSeq.toString)
  }

  test("broadcast centroid table scales k past literal-expression limits") {
    // k=32 cells over 60 vectors: the assignment must stay total (every
    // vector lands in exactly one cell) and deterministic
    val cents = Similarity.buildIvfCentroids(spark, tmp, 32, dim = 8)
    val table = Similarity.centroidTable(spark, cents)
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("vec"))
    val assigned = Similarity.assignCells(emb, table)
    assert(assigned.count() === 60)
    assert(assigned.select("vec_id").distinct().count() === 60)
    val again = Similarity.assignCells(emb, table)
      .collect().map(r => (r.getLong(0), r.getInt(2))).sorted.toSeq
    val first = assigned.collect().map(r => (r.getLong(0), r.getInt(2))).sorted.toSeq
    assert(first === again)
  }

  test("int8 quantization: bounded reconstruction error, exact at range ends") {
    val err = Similarity.quantizeError(spark, tmp, dim = 8).collect()
    assert(err.nonEmpty)
    // worst case per component is half a quantization step: range/255/2;
    // component values span ~[0.5, 11], so range <= ~11 -> step/2 ~ 0.022
    err.foreach { r =>
      assert(r.getAs[Double]("avg_rmse") >= 0.0)
      assert(r.getAs[Double]("max_rmse") <= 0.03,
        s"label ${r.get(0)}: max_rmse ${r.getAs[Double]("max_rmse")}")
    }
    // deterministic across invocations (fixed-point average)
    val again = Similarity.quantizeError(spark, tmp, dim = 8).collect()
    assert(err.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("planted near-vectors are found as cosine dup pairs") {
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("vec"))
    val pairs = Similarity.cosineDupPairsOf(
        Similarity.withPlantedNearVecs(emb, 5), 0.999, bits = 4, dim = 8)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val wanted = (0L until 5L).map(i => Set(i, i + 1000000L)).toSet
    assert(wanted.subsetOf(pairs), s"missed ${wanted diff pairs}")
  }

  test("cosine near-dup pairs are same-cluster only") {
    val pairs = Similarity.cosineDupPairsOf(Similarity.loadEmbeddings(spark, tmp), 0.98,
      bits = 4, dim = 8)
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select($"vec_id", $"label")
    val bad = pairs
      .join(emb.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("label", "la"), "vec_a")
      .join(emb.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("label", "lb"), "vec_b")
      .filter($"la" =!= $"lb").count()
    assert(bad === 0)
    assert(pairs.count() > 0)
  }

  test("native lsh_buckets is bit-identical to the literal hyperplane form") {
    // the native expression (sign matrix as a codegen reference object)
    // must reproduce the typedlit reference form exactly — incl. the
    // null semantics: a null element or a dim-mismatched vector drops
    // every bit (bucket = table << bits); a null vector stays null
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("vec"))
      .unionByName(Seq(
        (9001L, Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)), // null elem
        (9002L, Seq[java.lang.Double](1.0, 2.0, 3.0)), // dim mismatch
        (9003L, null) // null vector
      ).toDF("vec_id", "vec"))
    val bits = 6; val tables = 4; val dim = 8
    val literal = array((0 until tables).map(t =>
      Similarity.lshBucket($"vec", dim, bits, t)): _*)
    val rows = emb.select($"vec_id",
        Similarity.lshBuckets($"vec", dim, bits, tables).as("native"),
        literal.as("lit")).collect()
    assert(rows.length === 63)
    rows.filter(!_.isNullAt(1)).foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"vec_id ${r.getLong(0)}")
    }
    // intentional divergence pinned: a WHOLLY null vector is null-in-
    // null-out natively (it never buckets), where the literal form's
    // when().otherwise(0) swallowed the null into bucket t<<bits —
    // bucketing every null vector together at scale
    val nullRow = rows.find(_.getLong(0) == 9003L).get
    assert(nullRow.isNullAt(1) && !nullRow.isNullAt(2))
    assert(rows.count(_.isNullAt(1)) === 1)
  }
}
