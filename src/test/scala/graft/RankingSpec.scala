package graft

import graft.operators.{Ranking, Relational, TextAnalysis}
import org.apache.spark.sql.functions._

/** Hand-computed TF-IDF on a 3-doc toy corpus + text-analysis checks. */
class RankingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tmp: String = {
    val dir = java.nio.file.Files.createTempDirectory("rank").toString
    Seq(
      (0L, "spark spark hadoop", "en", "s0", 18L),
      (1L, "spark flink", "en", "s0", 11L),
      (2L, "hadoop hive hive", "de", "s1", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The exploded (doc_id, tok, tf) reference the ranking ops read. */
  private def tfRef = Ranking.tf(Ranking.terms(spark, tmp))

  test("tf exact values") {
    val tf = tfRef.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tf === Set(
      (0L, "spark", 2L), (0L, "hadoop", 1L),
      (1L, "spark", 1L), (1L, "flink", 1L),
      (2L, "hadoop", 1L), (2L, "hive", 2L)))
  }

  test("shuffle-free tfFromDocs equals the exploded groupBy form exactly") {
    // the round-6 per-row sort + run-length encode must reproduce the
    // aggregation it replaced: same rows, same types (tf as BIGINT),
    // including multi-run tokens, single-token docs and dedup within
    // a doc — checked on the toy corpus AND the sf0.001 testdata
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    for (dir <- Seq(tmp, "/root/testdata/sf0.001")) {
      val narrow = Ranking.tfFromDocs(spark, dir)
      val exploded = Ranking.tf(Ranking.terms(spark, dir))
      assert(narrow.dtypes === exploded.dtypes) // names+types (nullability may differ)
      assert(asSet(narrow) === asSet(exploded))
    }
  }

  test("idf and popularity hand-checked") {
    val d = Ranking.dfIdfOverTf(tfRef, 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // spark appears in 2 of 3 docs: idf = ln(3/2) = 0.405465
    assert(d("spark") === ((2L, 0.405465)))
    assert(d("hive") === ((1L, 1.098612)))
    val p = Ranking.popularityOverTf(tfRef, 3)
      .filter($"tok" === "spark").select("popularity").collect()(0).getDouble(0)
    assert(p === 0.666667)
  }

  test("tfidf stats: avg over docs containing the term") {
    val s = Ranking.tfidfStatsOverTf(tfRef, 3)
      .filter($"tok" === "spark").collect()(0)
    // spark tfidf: doc0 = 2*ln(1.5)=0.81093, doc1 = 1*ln(1.5)=0.405465
    assert(s.getDouble(1) === 0.608198)
  }

  test("lu_rank top-k deterministic ordering") {
    val top = Ranking.luRankOverTf(tfRef, 3, 10).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(top.length === 4) // spark, hadoop, flink, hive
    // descending scores; ties broken lexicographically
    assert(top.sliding(2).forall { case Array((ta, a), (tb, b)) =>
      a > b || (a == b && ta < tb) })
  }

  test("rollup distribution includes grand total") {
    val d = Ranking.distribution(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(d.contains(("ALL", "ALL", 3L)))
    assert(d.contains(("en", "ALL", 2L)))
    assert(d.contains(("en", "s0", 2L)))
  }

  test("langid: multilingual heuristic on real sentences") {
    val r = Seq(
      ("the cat was in the house and it is small", "en"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("le chat est dans la maison pour le roi", "fr"),
      ("el perro es una mascota en la casa por que", "es"),
      ("xyzzy qwerty zzz", "und"))
      .toDF("text", "expected")
      .withColumn("got", TextAnalysis.langId($"text"))
      .collect()
    r.foreach(row => assert(row.getString(2) === row.getString(1),
      s"text='${row.getString(0)}'"))
  }

  test("stratified sample is a pure row function: layout-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.stratifiedSample(df, rates)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    val b = ids(docs.repartition(7, $"lang")) // different layout, same rows
    assert(a === b && a.nonEmpty)
    // kept rows are only from sampled strata, at roughly the rates
    val kept = TextAnalysis.stratifiedSample(docs, rates)
      .groupBy($"lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet.subsetOf(rates.keySet))
    val total = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, rate) <- rates; n <- kept.get(lang)) {
      val frac = n.toDouble / total(lang)
      assert(math.abs(frac - rate) < 0.15, s"$lang: $frac vs $rate")
    }
  }

  test("salted join equals plain broadcast join (testdata)") {
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(Relational.joinSalted(spark, dir)) ===
      canon(Relational.joinBroadcast(spark, dir)))
  }
}
