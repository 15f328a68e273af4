package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task metrics of every job started under a job group, grouped by that group. */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0
    var taskNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val stageTaskMs = mutable.TreeMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      acc(g).synchronized(acc(g).jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.taskNs += m.executorRunTime * 1000000L
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  def take(g: String): Acc = Option(accs.remove(g)).getOrElse(new Acc)
}

/** One measured span: the raw totals of its prefix action. */
case class Prefix(span: String, wallS: Double, rows: Long, jobs: Int,
                  taskS: Double, shuffleMb: Double, spillMb: Double, skew: Double)

/** Per-span metrics after differencing consecutive prefixes of a chain. */
case class SpanStat(selfS: Double, taskS: Double, jobs: Double, rowsOut: Double,
                    shuffleWriteMb: Double, spillMb: Double, taskSkew: Double)

/** Runs an op's prefix actions under one job group each, so their task
  * metrics can be attributed; spans are kept in memory per op.
  *
  * A chain is a sequence of spans whose actions are prefixes of one
  * lazy plan: each action recomputes everything before it, so a span's
  * self time (and task time, jobs, shuffle, spill) is its prefix minus
  * the previous prefix of the same chain. An eager call is a chain of
  * one span.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  private val chains = mutable.ArrayBuffer.empty[(Boolean, mutable.ArrayBuffer[Prefix])]
  private var opId = ""
  /** Every finished op's spans, one JSON object each, written out when the run ends. */
  val records = mutable.ArrayBuffer.empty[String]

  def startOp(id: String): Unit = { opId = id; chains.clear() }

  /** Opens a chain; a probe chain measures work outside the op and is
    * left out of the op's final-prefix time.
    */
  def chain(probe: Boolean = false): Unit = chains += ((probe, mutable.ArrayBuffer.empty))

  /** Times `body` (which returns the rows it produced) as the next prefix. */
  def span(name: String)(body: => Long): Long = {
    val sc = spark.sparkContext
    val group = s"$opId/$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val rows = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBridge.drainListeners(sc)
    val a = listener.take(group)
    // skew of the prefix's last stage: the one that runs this span's own
    // operator (earlier stages belong to earlier prefixes)
    val skew = a.stageTaskMs.lastOption.map { case (_, ts) =>
      val s = ts.sorted
      val med = s(s.length / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }.getOrElse(0.0)
    if (chains.isEmpty) chain()
    chains.last._2 += Prefix(name, wall, rows, a.jobs, a.taskNs / 1e9,
      a.shuffleWrite / 1048576.0, a.spill / 1048576.0, skew)
    rows
  }

  /** Self time of every span recorded so far in this op. */
  def wallOf: Map[String, Double] = differenced()._1.map { case (k, v) => k -> v.selfS }

  /** The op's spans, differenced, plus the summed final-prefix time of
    * its non-probe chains; the spans are kept in `records`.
    */
  def finish(): (Map[String, SpanStat], Double) = {
    val (stats, finalPrefix) = differenced()
    for (((probe, c), ci) <- chains.zipWithIndex; p <- c) {
      val st = stats(p.span)
      records += s"""{"op": "$opId", "span": "${p.span}", "chain": $ci, "probe": $probe, """ +
        s""""prefix_s": ${p.wallS}, "self_s": ${st.selfS}, "task_s": ${st.taskS}, """ +
        s""""jobs": ${st.jobs}, "rows_out": ${p.rows}, "shuffle_write_mb": ${st.shuffleWriteMb}, """ +
        s""""spill_mb": ${st.spillMb}, "task_skew": ${st.taskSkew}}"""
    }
    (stats, finalPrefix)
  }

  private def differenced(): (Map[String, SpanStat], Double) = {
    val stats = mutable.LinkedHashMap.empty[String, SpanStat]
    chains.foreach { case (_, c) =>
      c.zipWithIndex.foreach { case (p, i) =>
        val prev = if (i == 0) Prefix("", 0, 0, 0, 0, 0, 0, 0) else c(i - 1)
        stats(p.span) = SpanStat(p.wallS - prev.wallS, p.taskS - prev.taskS,
          (p.jobs - prev.jobs).toDouble, p.rows.toDouble,
          p.shuffleMb - prev.shuffleMb, p.spillMb - prev.spillMb, p.skew)
      }
    }
    val finalPrefix = chains.collect { case (false, c) if c.nonEmpty => c.last.wallS }.sum
    (stats.toMap, finalPrefix)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
