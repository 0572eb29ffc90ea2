package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Task-level totals of the Spark work one span caused. */
final class SparkStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  /** (total task ms, max/median task run time) of each stage with at
    * least two tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[(Long, Double)]

  /** max/median task time of the stage that did the most work. */
  def heaviestStageSkew: Double =
    if (stageSkew.isEmpty) 0.0 else stageSkew.maxBy(_._1)._2

  def add(o: SparkStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputRecords += o.inputRecords; stageSkew ++= o.stageSkew
  }
}

/** One traced layer call: [start, end) in nanoseconds, its parent span
  * and the iteration it belongs to. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      start: Long, startMs: Long, var end: Long = -1L,
                      var endMs: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Attributes every Spark job to the span whose job group was set on the
  * thread that submitted it, and folds stage and task metrics into that
  * span. Jobs of other groups land on id -2; jobs with no group at all
  * on id -1, with their start times kept in [[orphanJobTimes]]. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val stats = mutable.HashMap.empty[Int, SparkStats]
  val orphanJobTimes = mutable.ArrayBuffer.empty[Long]

  private def of(span: Int) = stats.getOrElseUpdate(span, new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span =
      if (group.startsWith(Tracer.GroupPrefix))
        group.stripPrefix(Tracer.GroupPrefix).toInt
      else if (group.isEmpty) { orphanJobTimes += e.time; -1 }
      else -2
    e.stageIds.foreach(s => stageSpan(s) = span)
    of(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val s = of(stageSpan.getOrElse(e.stageId, -1))
    s.tasks += 1
    s.taskMs += m.executorRunTime
    s.gcMs += m.jvmGCTime
    s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    s.spillBytes += m.diskBytesSpilled
    s.inputRecords += m.inputMetrics.recordsRead
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      m.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      val s = of(stageSpan.getOrElse(id, -1))
      s.stages += 1
      stageTasks.remove(id).foreach { ts =>
        if (ts.size >= 2) {
          val sorted = ts.sorted
          val med = Stats.median(sorted.map(_.toDouble).toSeq)
          s.stageSkew += (sorted.sum -> sorted.last / math.max(med, 1.0))
        }
      }
    }

  def statsFor(span: Int): SparkStats = synchronized {
    stats.getOrElse(span, new SparkStats)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Span recorder for the traced run. With `enabled = false` every call
  * just runs its body, so the timed run executes the identical layer
  * calls with no materialization between them.
  *
  * Traced, a [[layer]] call forces the frame's executed plan inside a
  * child `plan` span, then materializes the frame (eager local
  * checkpoint) so its Spark work is attributed to the layer and the
  * next layer starts from computed rows. Spans stay in memory until
  * the run ends. */
final class Tracer(val spark: SparkSession, val enabled: Boolean,
                   val listener: LayerListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  var iter = 0

  private def setGroup(span: Int): Unit =
    spark.sparkContext.setJobGroup(Tracer.GroupPrefix + span,
      s"perfbench span $span", interruptOnCancel = false)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, iter, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      stack.push(s)
      setGroup(s.id)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        stack.headOption match {
          case Some(p) => setGroup(p.id)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Plan and materialize `df` as layer `name` (traced); pass through
    * untouched otherwise. `counters` runs on the materialized frame,
    * inside the layer's span, and only when traced. */
  def layer(name: String, counters: DataFrame => Unit = _ => ())
           (df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(name) {
      val d = df
      span("plan")(d.queryExecution.executedPlan)
      val m = d.localCheckpoint(true)
      counters(m)
      m
    }

  /** Run untraced bookkeeping (checks) under its own job group, so its
    * jobs are never mistaken for a layer's work. */
  def outside[T](label: String)(body: => T): T = {
    spark.sparkContext.setJobGroup("perfbench-" + label, label,
      interruptOnCancel = false)
    try body
    finally stack.headOption match {
      case Some(p) => setGroup(p.id)
      case None => spark.sparkContext.clearJobGroup()
    }
  }

  /** Record a per-iteration counter (summed when set twice). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters((iter, name)) = counters.getOrElse((iter, name), 0.0) + v

  def countOf(iteration: Int, name: String): Double =
    counters.getOrElse((iteration, name), 0.0)

  def spansOf(iteration: Int): Seq[Span] = spans.filter(_.iter == iteration).toSeq

  /** Self time per layer name in one iteration: span duration minus the
    * part of it covered by child spans, summed over same-named spans. */
  def selfSeconds(iteration: Int): Map[String, Double] = {
    val ss = spansOf(iteration)
    val childTime = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }

  /** Spark totals over the spans named `name` (and their children) in
    * one iteration. */
  def sparkOf(iteration: Int, name: String): SparkStats = {
    val ss = spansOf(iteration)
    val byParent = ss.groupBy(_.parent)
    val out = new SparkStats
    def walk(s: Span): Unit = {
      out.add(listener.statsFor(s.id))
      byParent.getOrElse(s.id, Nil).foreach(walk)
    }
    ss.filter(_.name == name).foreach(walk)
    out
  }

  /** Spans as JSON lines (written at the end of the run). */
  def dump(): String = spans.map { s =>
    val st = listener.statsFor(s.id)
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      f""""start_s":${s.start / 1e9}%.6f,"end_s":${s.end / 1e9}%.6f,""" +
      s""""jobs":${st.jobs},"stages":${st.stages},"tasks":${st.tasks},""" +
      s""""task_ms":${st.taskMs},"shuffle_write_bytes":${st.shuffleWriteBytes}}"""
  }.mkString("\n")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
