package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._

/** Generates literal-VALUES DuckDB oracles for the deterministic
  * pipeline queries (the ones not expressible as SQL over the raw
  * testdata tables): runs each query at sf0.01 — the scale the driver's
  * correctness gate uses — and freezes the result as
  * `SELECT * FROM (VALUES ...) AS t(cols)` under
  * src/main/resources/oracles/<key>.sql. SparkEntry.oracleSql picks
  * them up from the classpath.
  *
  * Regenerate after ANY fixture/pipeline change:
  *   sbt "runMain graft.tools.OracleGen /root/testdata/sf0.01"
  *
  * The driver's compare is dtype-sensitive (pandas): every value in the
  * FIRST row carries an explicit CAST so DuckDB's column types match
  * Spark's parquet exactly (int32/int64/float64/varchar/bool).
  */
object OracleGen {

  /** Keys that get a generated VALUES oracle. */
  val keys: Seq[String] = Seq(
    "pipe_scan_docs", "pipe_sentences", "pipe_tokenize", "pipe_sentence_order",
    "pipe_extract_n2n", "pipe_extract_121", "pipe_extract_syn",
    "pipe_classify", "pipe_classify_learned", "pipe_featurize",
    "pipe_link", "pipe_link_salted", "pipe_triples", "pipe_triples_learned", "pipe_qs",
    "pipe_checkpoint", "pipe_conf_pctl", "pipe_eval", "pipe_frame_freq",
    "pipe_norm_date", "pipe_norm_quantity", "pipe_rejected", "pipe_sink",
    "pipe_span_invariant", "pipe_curate_spans", "pipe_dedup_global", "pipe_stream", "q_pos_tag",
    // q_langid graduated to an INDEPENDENT DuckDB oracle (stopword-hit
    // argmax is plain list SQL; round-4 advisor pattern)
    "q_rolling_fp", "q_sample_stratified", "q_hll_distinct",
    "q_bpe_tokens", "q_pack_bpe", "q_contamination_bpe",
    "q_simhash", "q_minhash_buckets",
    // q_jaccard_verify graduated to an INDEPENDENT DuckDB oracle
    // (exact shingle-set Jaccard is SQL-expressible; round-4 advisor) —
    // only the signature-based keys stay as VALUES dumps
    "q_minhash_pairs", "q_simhash_pairs", "q_cosine_dup",
    "q_dedup_clusters", "q_dedup_keep", "q_dedup_incremental", "q_dedup_index",
    "q_ann_brute", "q_ann_lsh", "q_ann_ivf", "q_ann_ivf_recall",
    "q_ann_quant_recall", "q_embed_quant",
    "q_media_stats", "q_media_frames", "q_media_resize", "q_media_feats",
    "pipe_qs_media", "q_media_provenance")

  def duckType(dt: DataType): String = dt match {
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case StringType => "VARCHAR"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => sys.error(s"unsupported oracle column type $other — flatten the query output")
  }

  def lit(v: Any, dt: DataType, cast: Boolean): String = {
    val base = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: Boolean => if (b) "TRUE" else "FALSE"
      case d: Double => if (d.isNaN || d.isInfinite) sys.error("NaN/Inf in oracle") else d.toString
      case f: Float => f.toString
      case x => x.toString
    }
    if (cast || v == null) s"CAST($base AS ${duckType(dt)})" else base
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = Paths.get("src/main/resources/oracles")
    Files.createDirectories(outDir)
    val spark = graft.Bench.session("8")
    keys.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      val schema = df.schema
      val rows = df.collect()
      require(rows.nonEmpty, s"$k produced no rows — VALUES oracle would be empty")
      val sb = new StringBuilder
      sb ++= "SELECT * FROM (VALUES\n"
      rows.zipWithIndex.foreach { case (r, i) =>
        val cells = schema.fields.indices.map { c =>
          lit(r.get(c), schema.fields(c).dataType, cast = i == 0)
        }
        sb ++= cells.mkString("(", ",", ")")
        sb ++= (if (i == rows.length - 1) "\n" else ",\n")
      }
      sb ++= ") AS t("
      sb ++= schema.fields.map(f => "\"" + f.name + "\"").mkString(",")
      sb ++= ")"
      Files.writeString(outDir.resolve(s"$k.sql"), sb.result())
      println(s"[oraclegen] $k: ${rows.length} rows, ${sb.length} chars")
    }
    spark.stop()
  }
}
