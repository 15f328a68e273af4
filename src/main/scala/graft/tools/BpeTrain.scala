package graft.tools

import graft.Bench
import graft.operators.TextAnalysis
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Learns the frozen BPE merge table from the fixture corpus and
  * commits it as src/main/resources/bpe/merges.txt. Deterministic:
  * word frequencies are exact (groupBy counts), the learner tie-breaks
  * lexicographically — re-running reproduces the file byte-identically.
  *
  *   sbt "runMain graft.tools.BpeTrain /root/testdata/sf0.01"
  */
object BpeTrain {
  /** The fixture corpus holds only ~31 distinct words, so full
    * saturation (~106 merges) turns every word into one symbol and the
    * encoder degenerates to word counting. 40 merges leaves the long
    * tail split into subwords — the shape a real (capped-vocab) BPE has
    * over a real corpus, where the vocab never covers every word.
    */
  val NMerges = 40

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Bench.session("8")
    val freqs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(TextAnalysis.toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("w")) // deterministic input order for the learner
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val merges = graft.functions.Bpe.learn(freqs, NMerges)
    val out = Paths.get("src/main/resources/bpe/merges.txt")
    Files.createDirectories(out.getParent)
    Files.writeString(out, merges.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n"))
    println(s"[bpetrain] ${merges.length} merges from ${freqs.length} words -> $out")
    spark.stop()
  }
}
