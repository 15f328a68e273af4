package graft.operators

import graft.functions.Ngrams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** END-TO-END training-data curation funnel — the whole LLM-pipeline
  * story run as ONE composed Spark job over the documents table:
  *
  *   raw → language gate (langId == en) → learned quality gate
  *       → benchmark decontamination (broadcast eval-shingle overlap)
  *       → PII scrub → span-level boilerplate scrub (duplicate keys
  *       computed WITHIN the surviving corpus) → exact dedup of the
  *       scrubbed text → greedy sequence packing
  *
  * Output: one funnel row per stage `(ord, stage, n_docs, n_tokens)` —
  * the report a curation run actually ships (how much survived each
  * gate, how many tokens reach the packer). Every stage reuses the
  * EXACT rule gated individually elsewhere (TextAnalysis.langId, the
  * frozen QualityModel score, the sequential PiiBank redaction, the
  * SpanDedup window rule, packGreedyOver), so the per-stage oracles
  * and this end-to-end one certify the same arithmetic; the DuckDB
  * oracle re-derives the ENTIRE funnel from the raw table.
  *
  * Scale shape at 100 TB: the per-doc stages (lang, quality, PII) are
  * pure codegen'd row expressions on the single corpus scan; the span
  * scrub is the (hash, doc_id) shuffle pair of SpanDedup; dedup is one
  * hash groupBy on the 16-byte clean_md5; packing is the sharded
  * window. The query-shaped funnel recomputes the annotated subtree
  * once per count branch (union of tiny aggregates) — a production
  * run materializes the per-doc `clean` frame once (TableIO, the
  * committed-windows pattern) and the funnel is one pass over it.
  * Semantics note: a doc whose every token sits under a duplicated
  * window scrubs to the empty string, and all such docs share
  * md5("") — pure-boilerplate documents deliberately collapse to a
  * single (empty) representative at the dedup stage.
  */
object Curation {

  /** Token budget per pack and window shards — the q_pack_greedy pair. */
  val Budget = 512
  val Shards = 8

  /** The fixture plants (PII suffixes, then the boilerplate passage) —
    * identical rules to q_pii_scrub / q_span_dedup, so every funnel
    * stage provably fires at fixture scale; the oracle replants
    * identically. Keeps (doc_id, source, text).
    */
  def planted(docs: DataFrame): DataFrame =
    SpanDedup.withPlantedPassages(
      docs.select(col("doc_id"), col("source"),
        TextAnalysis.piiPlanted(col("doc_id"), col("text")).as("text")))

  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelOver(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")))

  /** Eval-set size for the decontamination gate (q_contamination's
    * in-corpus rule: the first BenchN docs ARE the benchmark, so the
    * gate provably drops them at overlap 1.0). */
  val BenchN = 25

  /** The annotated per-doc frame: every per-row curation signal (raw
    * token count, the three gate decisions, the PII-redacted text's
    * token array and count) over one scan subtree.
    *
    * TOKENIZE ONCE into a shared column: inlining a tokenizer copy
    * into every feature (lang hits x5, quality f1-f5, n_raw) blows
    * the generated projection past the codegen method limit and the
    * whole row pipeline drops to interpreted mode — measured 65 s vs
    * ~5 s for the same single-task work at sf0.1 (PlanSpec pins the
    * generated method size). __toks is an expensive multi-use
    * reference, so CollapseProject keeps the projections split
    * instead of re-duplicating it. The ingest repartition by
    * hash(doc_id) (Pipeline.docsFor's rule) parallelizes the heavy
    * projection regardless of input file layout — the fixture table
    * is ONE parquet partition.
    */
  private[graft] def annotated(raw: DataFrame): DataFrame = {
    // LAZY localCheckpoint on the tokenized frame: the per-row gate
    // projection and the decontamination aggregate are separate
    // subtrees of the join below — uncheckpointed, each would re-scan,
    // re-plant, re-shuffle, and re-tokenize the whole corpus
    val toked = planted(raw)
      .repartition(graft.Pipeline.ingestPartitions(raw.sparkSession),
        col("doc_id"))
      .withColumn("__toks", TextAnalysis.toks(col("text")))
      .localCheckpoint(false)
    val (nTok, _, score) =
      TextAnalysis.learnedFeaturesOver(col("text"), col("__toks"))
    // the scrubbed text is tokenized ONCE here and only the array is
    // carried (round 6): n_s, the funnel's span-scrub window pass and
    // its text rebuild all read __toks_s; the redacted string itself
    // has no later reader, so it never rides the funnel's checkpoint
    val perRow = toked.select(
        col("doc_id"), col("source"), nTok.as("n_raw"),
        (TextAnalysis.langIdOver(col("__toks")) === "en").as("lang_ok"),
        (score > 0).as("qual_ok"),
        TextAnalysis.toks(TextAnalysis.piiScrubbed(col("text"))).as("__toks_s"))
      .withColumn("n_s", size(col("__toks_s")))
    // DECONTAMINATION gate: per-doc distinct-trigram overlap against
    // the broadcast eval-set shingles (contaminationOver — one corpus
    // shingle pass, nothing quadratic). Integer-exact rule — a doc is
    // clean iff 2*n_overlap < n_trigrams (no float rounding at the
    // threshold, identical in DuckDB).
    // Round 6: the shingles are 64-bit HASH trigrams (Ngrams.keys)
    // instead of built strings: distinct counts and the overlap join
    // are value-identical up to 64-bit collisions, and the corpus-side
    // explode carries longs, not strings.
    val decon = TextAnalysis.contaminationOver(
        toked.select(col("doc_id"), col("__toks"))
          .withColumn("__th", Ngrams.tokenHashes(col("__toks")))
          .select(col("doc_id"), array_distinct(Ngrams.keys(col("__th"), 3)).as("tris")),
        BenchN)
      .select(col("doc_id"),
        (col("n_trigrams") === 0 ||
          col("n_overlap") * 2 < col("n_trigrams")).as("decon_ok"))
    perRow.join(decon, Seq("doc_id"))
  }

  /** CURATION OVER THE INTERLEAVED SPANS TABLE — the two graft axes
    * composed: the language and learned-quality gates score the
    * document's concatenated TEXT spans (offset order), and a
    * surviving document keeps its FULL span sequence untouched —
    * media refs, ordering, everything; `spans_sig` carries the
    * BASELINE.json span-sequence invariant so any later stage that
    * drops or reorders a span is caught. Per surviving doc:
    * (doc_id, n_spans, n_media, n_text_tokens, spans_sig).
    * Gates are the EXACT funnel rules (shared expressions), so the
    * flat-documents funnel certifies the same arithmetic this path
    * runs; CurationSpec pins sig equality vs the input table.
    */
  def curateSpans(docs: org.apache.spark.sql.Dataset[graft.model.Doc]): DataFrame = {
    val ordered = array_sort(col("spans"),
      (l, r) => l.getField("offset") - r.getField("offset"))
    val flat = docs.toDF().select(col("doc_id"), col("spans"),
      concat_ws(" ", transform(
        filter(ordered, s => s.getField("kind") === "text"),
        s => s.getField("text"))).as("text"))
    val toked = flat.withColumn("__toks", TextAnalysis.toks(col("text")))
    val (nTok, _, score) =
      TextAnalysis.learnedFeaturesOver(col("text"), col("__toks"))
    toked
      .filter(TextAnalysis.langIdOver(col("__toks")) === "en" && score > 0)
      .select(col("doc_id"),
        size(col("spans")).as("n_spans"),
        size(filter(col("spans"),
          s => s.getField("kind") === "media")).as("n_media"),
        nTok.as("n_text_tokens"),
        graft.functions.SpanFns.spansSig(col("spans")).as("spans_sig"))
  }

  def funnelOver(raw: DataFrame): DataFrame = {
    // LAZY localCheckpoint: the funnel's count branches (head + the
    // span-scrub/dedup/pack tails) would otherwise re-evaluate this
    // regex-and-feature-heavy subtree ~16x (spanScrub alone scans its
    // windows input four times) — measured 93 s vs ~6 s at sf0.1. The
    // first action materializes it ONCE and every branch reuses it; at
    // 100 TB the same seam is a TableIO-committed annotated table.
    val base = annotated(raw).localCheckpoint(false)
    val surv = base.filter(
      col("lang_ok") && col("qual_ok") && col("decon_ok"))
    // span scrub over the SURVIVING corpus's redacted text: duplicate
    // window keys are computed within what the earlier gates kept; the
    // pre-tokenized seam reuses the checkpointed __toks_s array
    val scrub = SpanDedup.spanScrubToked(
        surv.select(col("doc_id"), col("__toks_s").as("__toks")))
      .select(col("doc_id"), col("n_covered"), col("clean_md5"))
    val clean = surv.select(col("doc_id"), col("source"), col("n_s"))
      .join(scrub, Seq("doc_id"))
      .withColumn("n_clean", (col("n_s") - col("n_covered")).cast("long"))
      .localCheckpoint(false) // shared by the s4/s5/s6 tails
    // exact dedup on the scrubbed bytes: identical clean text implies
    // identical token count, so any group member's n_clean serves
    val kept = clean.groupBy(col("clean_md5"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        min(col("n_clean")).as("n_tokens"))
    val packs = TextAnalysis.packGreedyOver(
      kept.select(col("doc_id"), col("source"), col("n_tokens")),
      Budget, Shards)

    // stages 0-4 fold into ONE aggregate over the annotated frame
    // (conditional sums), exploded to funnel rows
    val g2 = col("lang_ok") && col("qual_ok")
    val g3 = g2 && col("decon_ok")
    val head = base.agg(
      count(lit(1)).as("d0"),
      coalesce(sum(col("n_raw").cast("long")), lit(0L)).as("t0"),
      coalesce(sum(when(col("lang_ok"), 1L).otherwise(0L)), lit(0L)).as("d1"),
      coalesce(sum(when(col("lang_ok"), col("n_raw").cast("long"))
        .otherwise(0L)), lit(0L)).as("t1"),
      coalesce(sum(when(g2, 1L).otherwise(0L)), lit(0L)).as("d2"),
      coalesce(sum(when(g2, col("n_raw").cast("long")).otherwise(0L)),
        lit(0L)).as("t2"),
      coalesce(sum(when(g3, 1L).otherwise(0L)), lit(0L)).as("d3"),
      coalesce(sum(when(g3, col("n_raw").cast("long")).otherwise(0L)),
        lit(0L)).as("t3"),
      coalesce(sum(when(g3, col("n_s").cast("long")).otherwise(0L)),
        lit(0L)).as("t4"))
    val headRows = head.select(explode(array(
        struct(lit(0).as("ord"), lit("raw").as("stage"),
          col("d0").cast("long").as("n_docs"), col("t0").as("n_tokens")),
        struct(lit(1).as("ord"), lit("lang_en").as("stage"),
          col("d1").as("n_docs"), col("t1").as("n_tokens")),
        struct(lit(2).as("ord"), lit("quality").as("stage"),
          col("d2").as("n_docs"), col("t2").as("n_tokens")),
        struct(lit(3).as("ord"), lit("decontaminated").as("stage"),
          col("d3").as("n_docs"), col("t3").as("n_tokens")),
        struct(lit(4).as("ord"), lit("pii_scrubbed").as("stage"),
          col("d3").as("n_docs"), col("t4").as("n_tokens")))).as("r"))
      .select(col("r.ord"), col("r.stage"), col("r.n_docs"), col("r.n_tokens"))

    def tail(ord: Int, stage: String, df: DataFrame, tokens: Column) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(tokens), lit(0L)).as("n_tokens"))
        .select(lit(ord).as("ord"), lit(stage).as("stage"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_tokens").cast("long").as("n_tokens"))

    headRows
      .union(tail(5, "span_scrubbed", clean, col("n_clean")))
      .union(tail(6, "dedup", kept, col("n_tokens")))
      .union(tail(7, "packed", packs, col("sum_tokens")))
  }
}
