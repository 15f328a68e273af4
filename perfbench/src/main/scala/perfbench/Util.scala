package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object Util {

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Order-independent checksum over every column: row count and the
    * sum of per-row xxhash64 values.
    */
  def checksum(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def rowsOf(checksum: String): Long = checksum.takeWhile(_ != ':').toLong

  /** Materializes `df` into the noop sink and returns its row count
    * (an observed metric, so counting adds no job).
    */
  def noopRows(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** (all, steal) CPU ticks of the host since boot, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
