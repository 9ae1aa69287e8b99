package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a layer call made by the benchmark, or a request
  * grouping several of them. Spans of one request share `req`. */
final case class Span(id: Int, name: String, parent: Int, req: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. With `on = false` every call is a plain pass-through,
  * so the untraced run pays nothing. Spans are kept in memory and written
  * once at the end of the run. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[A](name: String, req: String = "")(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, req, t0, System.nanoTime())
      }
    }

  /** Span duration minus the time its direct children cover. Spans come
    * from one thread, so children never overlap each other. */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }

  def spansJson: String = spans.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":"${s.req}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Operator row counts from the SQL metrics of executed plans. The
  * listener bus is asynchronous: [[drain]] waits until the event of the
  * action just run has arrived, then returns every plan seen since
  * [[mark]]. */
final class PlanRows extends QueryExecutionListener {
  private val seen = new AtomicInteger(0)
  private val plans = new ConcurrentLinkedQueue[QueryExecution]()

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    plans.add(qe)
    seen.incrementAndGet()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    seen.incrementAndGet()

  def mark(): Int = { plans.clear(); seen.get() }

  def drain(mark: Int): Seq[QueryExecution] = {
    val deadline = System.nanoTime() + 3000000000L
    while (seen.get() <= mark && System.nanoTime() < deadline) Thread.sleep(5)
    var last = -1
    while (seen.get() != last && System.nanoTime() < deadline) {
      last = seen.get(); Thread.sleep(20)
    }
    val out = plans.asScala.toSeq
    plans.clear()
    out
  }
}

object PlanRows {
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
  }

  /** numOutputRows summed per operator name over the given plans. Partial
    * object-hash aggregates (the map side of `agg.TopK`) get their own key,
    * since their output is what the following exchange carries. */
  def byOperator(qes: Seq[QueryExecution]): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (qe <- qes; p <- walk(qe.executedPlan)) p match {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) =>
        acc("ObjectHashAggregate.partial") += rows(a)
        acc("ObjectHashAggregate.partial.input") += rows(a.child)
      case _ =>
        p.metrics.get("numOutputRows").foreach(m => acc(p.nodeName) += m.value)
    }
    acc.toMap
  }

  /** Output rows of `p`, or of the first descendant that counts them
    * (projections carry no row metric). */
  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p match {
      case q: QueryStageExec => rows(q.plan)
      case _ => p.children.headOption.map(rows).getOrElse(0L)
    }
  }
}

/** Engine-wide counters over a window of the run: jobs, stages, tasks,
  * shuffle, spill, GC and executor time, and the task-time spread of the
  * heaviest stage. */
final class SparkStats extends SparkListener {
  val jobs, stages, tasks, shuffleWrite, shuffleRead, spill, gcMs, runMs =
    new AtomicLong(0)
  private val stageRun = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private val stageDurs =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      runMs.addAndGet(m.executorRunTime)
      stageRun.computeIfAbsent(e.stageId, _ => new AtomicLong(0))
        .addAndGet(m.executorRunTime)
    }
    stageDurs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  }

  /** Wait until no task event arrived for a few polls. */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 3000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      val now = tasks.get() + jobs.get()
      if (now == last) stable += 1 else stable = 0
      last = now
      Thread.sleep(20)
    }
  }

  def reset(): Unit = {
    settle()
    Seq(jobs, stages, tasks, shuffleWrite, shuffleRead, spill, gcMs, runMs)
      .foreach(_.set(0))
    stageRun.clear()
    stageDurs.clear()
  }

  /** max / p50 task duration of the stage with the most executor time. */
  def heaviestStageSkew: Double =
    stageRun.asScala.maxByOption(_._2.get()).map { case (s, _) =>
      val d = stageDurs.getOrDefault(s, new ConcurrentLinkedQueue[Long]())
        .asScala.toVector.sorted
      if (d.isEmpty) 1.0
      else d.last.toDouble / math.max(1L, d((d.size - 1) / 2))
    }.getOrElse(1.0)
}

object SparkStats {
  def install(spark: SparkSession): (SparkStats, PlanRows) = {
    val s = new SparkStats
    val p = new PlanRows
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(p)
    (s, p)
  }
}
