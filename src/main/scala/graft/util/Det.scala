package graft.util

/** Deterministic, seedless pseudo-randomness: pure functions of input
  * keys (splitmix64). Used by fixture generators so every value is a
  * pure function of (doc id, counter) — reproducible across any
  * parallelism level, no `scala.util.Random`, no
  * `monotonically_increasing_id` (SURVEY.md §7 determinism rule).
  */
object Det {
  /** splitmix64 finalizer — high-quality 64-bit mix. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def mix(parts: Long*): Long = parts.foldLeft(0x5851f42d4c957f2dL)((a, b) => mix64(a ^ b))

  def hashStr(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Catalog- and path-safe tag for scratch data built from input dir
    * `dir` within `scope` (an application id, a replication factor).
    * Every non-alphanumeric maps to `_`, which is lossy (`sf-x` and
    * `sf_x` collide), so the raw dir's hash keeps distinct inputs from
    * sharing a table.
    */
  private[graft] def scratchTag(dir: String, scope: String): String =
    s"${dir}_$scope".replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      java.lang.Long.toHexString(hashStr(dir))

  /** Uniform int in [0, n) from a 64-bit hash. */
  def bounded(h: Long, n: Int): Int = {
    require(n > 0)
    (((h >>> 1) % n).toInt + n) % n
  }

  /** Zipf-ish index in [0, n): rank r chosen with weight ~ 1/(r+1).
    * Deterministic given hash h. Used for head-entity skew (FIXTURES.md F3).
    */
  def zipf(h: Long, n: Int): Int = {
    val hn = math.log(n.toDouble) + 0.5772156649
    val u = ((h >>> 11).toDouble / (1L << 53).toDouble) * hn
    val idx = math.exp(u) - 1.0
    math.min(n - 1, math.max(0, idx.toInt))
  }
}
