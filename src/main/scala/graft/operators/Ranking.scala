package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Verb / lexical-unit ranking — the analytical core (BASELINE.json
  * north_star: "TF-IDF + popularity score via DataFrame aggregations").
  * Reference: public Wikidata/StrepHit
  * strephit/corpus_analysis/rank_verbs.py (gensim TfidfModel +
  * PopularityRanking). All partial+final hash aggregations; DuckDB
  * oracles exist for every op here (SparkEntry.oracleSql).
  *
  * The ranking ops take a (doc_id, tok, tf) frame: `tfFromDocs`, or
  * its exploded reference form `tf(terms(...))`.
  */
object Ranking {

  /** Tokenize the raw documents table into (doc_id, tok) — the same
    * rule the DuckDB oracle uses: lowercase, split on non-letters.
    */
  def terms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("tok"))
      .filter($"tok" =!= "")
  }

  /** Term frequency per (doc, token). */
  def tf(terms: DataFrame): DataFrame =
    terms.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** Term frequency WITHOUT a shuffle (guide §2.4 — remove shuffles
    * outright): the (doc_id, tok) group key contains doc_id, and all of
    * a document's tokens live in its own row, so the aggregation the
    * exploded form shuffles the whole term table for is really a
    * per-row sort + run-length encode. Rows/values are identical to
    * tf(terms(...)): same tokenizer, same counts, tf as BIGINT.
    */
  def tfFromDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Each derived array gets ITS OWN projection so downstream lambdas
    // reference an attribute, not the producing expression: Catalyst
    // has no common-subexpression elimination inside lambda bodies, so
    // an inlined `starts` would re-run its filter(sequence(...)) once
    // per OUTPUT ENTRY — O(n²) per row (measured 6× slower than the
    // shuffle it replaces). sort_array, not array_sort: the latter
    // expands to an interpreted per-comparison lambda.
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", sort_array(TextAnalysis.toks($"text")).as("__s"))
      .select($"doc_id", $"__s", runStarts($"__s").as("__st"))
      .select($"doc_id", explode(tfEntries($"__s", $"__st")).as("e"))
      .select($"doc_id", $"e.tok".as("tok"), $"e.tf".as("tf"))
  }

  /** 1-based positions opening each run of a SORTED token array
    * (short-circuit `or` keeps element_at(s, 0) from ever evaluating).
    */
  private def runStarts(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // n ≥ 1 guard: sequence(1, 0) DESCENDS (step inferred -1), which
    // would feed element_at(s, 0) — an ANSI error — on empty docs
    when(size(s) >= 1,
      filter(sequence(lit(1), size(s)),
        i => i === 1 || element_at(s, i) =!= element_at(s, i - 1)))
      .otherwise(array().cast("array<int>"))

  /** Run-length (tok, tf) entries from the sorted array + its run-start
    * positions: entry j's length is next start − own start, with n+1
    * closing the last run. CaseWhen branches evaluate lazily, so the
    * out-of-range element_at in the non-last branch is never touched on
    * the last entry (ANSI-safe).
    */
  private def tfEntries(s: org.apache.spark.sql.Column,
                        st: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(s) >= 1, transform(st, (p, j) =>
      struct(element_at(s, p).as("tok"),
        (when(j === size(st) - 1, size(s) + 1).otherwise(element_at(st, j + 2)) - p)
          .cast("long").as("tf"))))
      .otherwise(array().cast("array<struct<tok:string,tf:bigint>>"))

  /** Document frequency + IDF per token (`n` = corpus size). The
    * tf frame's rows are unique per (doc, tok), so df per tok =
    * count(*) — countDistinct(doc_id) over re-exploded terms computed
    * the identical value through a far bigger shuffle (distinct
    * expansion of the whole term table).
    */
  def dfIdfOverTf(tfFrame: DataFrame, n: Long): DataFrame =
    tfFrame.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("idf", round(log(lit(n.toDouble) / col("df")), 6))

  /** avg + stddev of tf-idf per token across docs. */
  def tfidfStatsOverTf(tfFrame: DataFrame, n: Long): DataFrame = {
    // the idf side derives from the SAME tf frame (df = count(*), rows
    // unique per (doc, tok)) instead of re-exploding the corpus; the
    // per-row tfidf = tf · idf_raw values entering the aggregate are
    // bit-identical to the old form, so the rounded stats cannot move
    val d = tfFrame.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), log(lit(n.toDouble) / col("df")).as("idf_raw"))
    tfFrame.join(d, "tok")
      .withColumn("tfidf", col("tf") * col("idf_raw"))
      .groupBy("tok")
      .agg(round(avg("tfidf"), 6).as("avg_tfidf"),
        round(coalesce(stddev_samp(col("tfidf")), lit(0.0)), 6).as("sd_tfidf"))
  }

  /** Popularity = fraction of docs containing the token. */
  def popularityOverTf(tfFrame: DataFrame, n: Long): DataFrame =
    tfFrame.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("popularity", round(col("df") / lit(n.toDouble), 6))

  /** Combined LU ranking (pinned formula, SURVEY.md §2.3): harmonic
    * mean of min-max-scaled avg tf-idf and popularity; top `k`,
    * deterministic tie-break on token.
    */
  def luRankOverTf(t: DataFrame, n: Long, k: Int): DataFrame = {
    // Single-scan shape (round-1 VERDICT perf #3): tf rows are unique
    // per (doc, tok), so df = count(*) per tok from the SAME aggregate
    // that averages tf, and avg(tf * idf) = avg(tf) * idf exactly (idf
    // is constant within the group). The old self-join recomputed the
    // scan+explode subtree ~4x; now byTok is one two-level aggregation
    // and the mm branch reuses its shuffle (ReusedExchange in the plan).
    val byTok = t.groupBy("tok")
      .agg(avg("tf").as("avg_tf"), count(lit(1)).as("df"))
      .withColumn("a_raw", col("avg_tf") * log(lit(n.toDouble) / col("df")))
      .select("tok", "a_raw", "df")
    val mm = byTok.agg(min("a_raw").as("a_min"), max("a_raw").as("a_max"))
    val scored = byTok.crossJoin(broadcast(mm))
      .withColumn("a", when(col("a_max") === col("a_min"), lit(0.0))
        .otherwise((col("a_raw") - col("a_min")) / (col("a_max") - col("a_min"))))
      .withColumn("p", col("df") / lit(n.toDouble))
      .withColumn("score", // +0.0 canonicalizes IEEE -0.0 (oracle parity)
        round(when(col("a") + col("p") === 0, 0.0)
          .otherwise(lit(2.0) * col("a") * col("p") / (col("a") + col("p"))), 6) + lit(0.0))
    scored.select("tok", "score")
      .orderBy(col("score").desc, col("tok"))
      .limit(k)
  }

  /** Sentence-per-LU distribution with rollup over (lang, source) —
    * exercises grouping sets (SURVEY.md §2.3 lu_distribution).
    */
  def distribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .rollup($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .select(coalesce($"lang", lit("ALL")).as("lang"),
        coalesce($"source", lit("ALL")).as("source"),
        $"n_docs", $"sum_chars")
  }
}
