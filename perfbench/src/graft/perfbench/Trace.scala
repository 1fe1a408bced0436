package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import scala.collection.mutable

/** One timed interval. `parent` is the id of the enclosing span (-1 for the
  * run span); times are `System.nanoTime` readings.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    var end: Long = 0L, attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** Task-level totals of the Spark jobs one span launched. */
final class JobTotals {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, inputBytes, shuffleWrite, shuffleRead, fetchWaitMs,
    spillBytes, gcMs, peakMem = 0L
}

/** Attributes Spark jobs to spans through the job group each span sets.
  * Events arrive on the listener-bus thread only, so plain maps suffice;
  * read them after [[org.apache.spark.ListenerBusAccess.drain]].
  */
final class LayerListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[String, JobTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
        val t = bySpan.getOrElseUpdate(g, new JobTotals)
        t.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(bySpan(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = bySpan(g)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
    }
}

/** Span recorder. Disabled, it only runs the body (untraced passes pass
  * `null` spans). Enabled, every span is its own Spark job group, so
  * [[LayerListener]] can attribute job metrics to it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, start: Long = System.nanoTime())(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), start)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s), name, interruptOnCancel = false)
      try body(s)
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds a finished child span under `parent`, for a phase whose interval
    * was measured by Spark itself (analysis, from the planning tracker).
    */
  def child(parent: Span, name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val hi = if (parent.end > 0) parent.end else System.nanoTime() // parent may still be open
      val lo = math.max(parent.start, math.min(start, hi))
      spans += Span(spans.size, name, parent.id, lo, math.max(lo, math.min(end, hi)))
    }

  /** Duration minus the time covered by direct children (children of one
    * span never overlap: the loop is single-threaded).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  val GroupPrefix = "perfbench-"
  def group(s: Span): String = GroupPrefix + s.id
}

/** Node counts of an executed plan, looking through adaptive wrappers and
  * query stages so the final (post-AQE) plan is what gets counted.
  */
object PlanShape {
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => Iterator.single(o) ++ (o.children ++ o.subqueries).iterator.flatMap(nodes)
  }

  /** (exchanges, leaf scans) of the plan. */
  def counts(p: SparkPlan): (Int, Int) = {
    val all = nodes(p).toSeq
    (all.count(_.isInstanceOf[Exchange]), all.count(_.isInstanceOf[LeafExecNode]))
  }
}
