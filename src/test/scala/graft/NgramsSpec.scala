package graft

import graft.functions.Ngrams
import org.apache.spark.sql.functions._

/** Ngrams: both window forms over arrays just below, at and just above
  * the window width, so the sequence() guard and the last window are
  * both exercised.
  */
class NgramsSpec extends SparkSuite {
  import spark.implicits._

  // (n, array length, token alphabet): the one-token alphabet makes all
  // windows equal, so distinct counts differ from window counts
  private val cases = for {
    n <- Seq(3, 8)
    len <- Seq(0, n - 1, n, n + 1)
    alphabet <- Seq(Seq("x"), Seq("a", "b", "c", "d", "e"))
  } yield (n, len, alphabet)

  private def tokens(len: Int, alphabet: Seq[String]): Seq[String] =
    (0 until len).map(i => alphabet(i % alphabet.length))

  test("string and key windows agree with sliding windows at every boundary") {
    for ((n, len, alphabet) <- cases) {
      val toks = tokens(len, alphabet)
      val row = Seq(toks).toDF("toks")
        .withColumn("__th", Ngrams.tokenHashes(col("toks")))
        .select(Ngrams.strings(col("toks"), n).as("s"), Ngrams.keys(col("__th"), n).as("k"))
        .head()
      val strs = row.getSeq[String](0)
      val keys = row.getSeq[Long](1)
      val expected =
        if (len < n) Seq.empty[String] else toks.sliding(n).map(_.mkString(" ")).toSeq
      val label = s"n=$n len=$len alphabet=${alphabet.size}"
      assert(strs === expected, label)
      if (strs.isEmpty) assert(keys.isEmpty, label)
      else {
        assert(keys.length === strs.length, label)
        assert(keys.distinct.length === strs.distinct.length, label)
      }
    }
  }
}
