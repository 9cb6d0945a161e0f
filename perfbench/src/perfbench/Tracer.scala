package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into a layer. Spark counters of every
  * job started while the span is innermost are attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleReadRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputRecords = 0L
  var outputBytes = 0L
  /** The multi-task stage whose biggest task read the most records:
    * (tasks, max task ms, median task ms, max task records). */
  var heaviest: (Int, Long, Long, Long) = (0, 0L, 0L, 0L)
  var maxTaskRecords = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder and Spark listener. With `enabled = false` it only runs
  * the bodies: no job groups, no listener, no counters, so an untraced
  * run measures the engine alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) extends SparkListener {

  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  if (enabled) spark.sparkContext.addSparkListener(this)

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    // the listener thread reads `spans` while this thread appends
    val s = synchronized {
      val span = new Span(spans.size, name, parent, System.nanoTime())
      spans += span
      span
    }
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      BusDrain(sc)
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Every span whose name is `name` or starts with `name.`. */
  def named(name: String): Seq[Span] =
    spans.toSeq.filter(s => s.name == name || s.name.startsWith(name + "."))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).filter(_ < spans.size).foreach { id =>
        val s = spans(id)
        s.jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    for (s <- stageSpan.get(id); ts <- stageTasks.remove(id)) {
      s.stages += 1
      val records = ts.map(_._2).max
      if (ts.size >= 2 && records > s.heaviest._4) {
        val ms = ts.map(_._1).sorted
        s.heaviest = (ts.size, ms.last, ms(ms.size / 2), records)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (s <- stageSpan.get(e.stageId) if m != null) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputRecords += m.outputMetrics.recordsWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      s.maxTaskRecords = math.max(s.maxTaskRecords, records)
      val ms = if (e.taskInfo != null) e.taskInfo.duration else m.executorRunTime
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ((ms, records))
    }
  }

  def detach(): Unit = if (enabled) spark.sparkContext.removeSparkListener(this)

  /** Spans as JSON lines: name, start/end ms since the tracer began, parent and counters. */
  def json: Seq[String] = spans.toSeq.map { s =>
    def ms(ns: Long) = f"${(ns - t0) / 1e6}%.3f"
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${ms(s.startNs)},""" +
      s""""end_ms":${ms(s.endNs)},"jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
      s""""run_ms":${s.runMs},"gc_ms":${s.gcMs},"input_records":${s.inputRecords},""" +
      s""""shuffle_read_records":${s.shuffleReadRecords},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
      s""""spill_bytes":${s.spillBytes},"output_records":${s.outputRecords},""" +
      s""""output_bytes":${s.outputBytes},"max_task_records":${s.maxTaskRecords},""" +
      s""""heaviest_stage":{"tasks":${s.heaviest._1},"max_ms":${s.heaviest._2},""" +
      s""""median_ms":${s.heaviest._3},"max_records":${s.heaviest._4}}}"""
  }
}
