package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sliding n-element windows over an array column, pure Catalyst: one
  * `transform` over the window starts, each window read with
  * `element_at` (no UDF, no per-window array). Both forms are empty
  * below n elements, else size − n + 1 windows in start order:
  * `strings` joins each window's tokens with one space; `keys` is
  * xxhash64 over each window's n token hashes, so no string is built.
  * Tokens never contain the join character, so key equality matches
  * string equality up to 64-bit collisions.
  *
  * Pass the array as a column projected ON ITS OWN, never an inline
  * expression: Catalyst does no common-subexpression elimination
  * inside lambda bodies, so an inlined tokenizer or `tokenHashes`
  * would be re-evaluated per window element (re-hashing the whole doc
  * per window).
  */
object Ngrams {

  /** `f` over every 1-based window start, or an empty
    * `array<elemType>` below n elements — the guard is required, since
    * sequence(1, stop) COUNTS DOWN when stop < 1.
    */
  private def overStarts(arr: Column, n: Int, elemType: String)(f: Column => Column): Column =
    when(size(arr) >= n, transform(sequence(lit(1), size(arr) - (n - 1)), f))
      .otherwise(array().cast(s"array<$elemType>"))

  private def window(arr: Column, n: Int, start: Column): Seq[Column] =
    (0 until n).map(k => element_at(arr, start + k))

  def strings(tokens: Column, n: Int): Column =
    overStarts(tokens, n, "string")(i => concat_ws(" ", window(tokens, n, i): _*))

  /** Per-token xxhash64: the input `keys` expects, projected first. */
  def tokenHashes(tokens: Column): Column = transform(tokens, t => xxhash64(t))

  def keys(hashes: Column, n: Int): Column =
    overStarts(hashes, n, "bigint")(i => xxhash64(window(hashes, n, i): _*))
}
