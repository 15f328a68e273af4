package graft.tools

import graft.{Bench, Pipeline}

/** Dev tool: dump the formatted physical plan of the flagship pipeline
  * (plan-inspection protocol, BASELINE.md: no Collect/cartesian nodes;
  * broadcasts where intended).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Bench.session("8")
    val keys: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq else Seq("pipe_triples")
    keys.foreach { k0 =>
      // "exec:<key>" executes first and prints the FINAL adaptive plan
      // (AQE exchange reuse only materializes at runtime)
      val exec = k0.startsWith("exec:")
      val k = if (exec) k0.stripPrefix("exec:") else k0
      val df = if (k == "pipe_triples") Pipeline.triples(spark, sfDir)
               else graft.SparkEntry.queries(k)(spark, sfDir)
      if (exec) df.collect() // collect() executes THIS df's own plan (count() would plan a separate agg)
      println(s"==== $k PLAN ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
