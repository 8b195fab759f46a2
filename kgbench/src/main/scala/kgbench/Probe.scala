package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Task-level figures of the actions run under one tag. */
final case class TaskFigures(
    tasks: Int,
    taskSeconds: Double,
    heaviestSeconds: Double, // task time of the stage with the most task time
    skew: Double, // slowest task / median task, in that stage
    shuffleBytes: Long,
    spillBytes: Long
)

/** Plan-level figures of one executed query, from its SQL metrics. */
final case class PlanFigures(shuffleBytes: Long, spillBytes: Long)

/** Outside-in observation of the engine, registered by the traced mode
  * only: a SparkListener groups task metrics by the `kgbench.tag` local
  * property of the job that ran them, and a QueryExecutionListener sums
  * the SQL metrics of each executed plan. Neither touches `src/main`.
  */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageDur = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val tagShuffle = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val tagSpill = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val plans = mutable.ArrayBuffer.empty[PlanFigures]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("kgbench.tag"))).getOrElse("")
      e.stageIds.foreach(id => stageTag(id) = tag)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val tag = stageTag.getOrElse(e.stageId, "")
      stageDur.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        tagShuffle(tag) += m.shuffleWriteMetrics.bytesWritten
        tagSpill(tag) += m.memoryBytesSpilled
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized(plans += Probe.planFigures(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qel)

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Run `f` with its jobs tagged, then wait until their events arrived. */
  def tagged[T](tag: String)(f: => T): T = {
    sc.setLocalProperty("kgbench.tag", tag)
    try f
    finally {
      sc.setLocalProperty("kgbench.tag", null)
      org.apache.spark.KgbenchBus.drain(sc)
    }
  }

  def plansSoFar: Int = synchronized(plans.length)

  /** Plan figures of the queries that finished after mark `from`. */
  def plansSince(from: Int): PlanFigures = synchronized {
    val xs = plans.drop(from)
    PlanFigures(xs.map(_.shuffleBytes).sum, xs.map(_.spillBytes).sum)
  }

  def figures(tag: String): TaskFigures = synchronized {
    val stages = stageTag.collect { case (id, t) if t == tag && stageDur.contains(id) => stageDur(id) }.toSeq
    val all = stages.flatten
    val heaviest = if (stages.isEmpty) Seq.empty[Long] else stages.maxBy(_.sum).toSeq
    val skew =
      if (heaviest.isEmpty) 1.0
      else heaviest.max.toDouble / math.max(1.0, Stats.median(heaviest.map(_.toDouble)))
    TaskFigures(all.length, all.sum / 1000.0, heaviest.sum / 1000.0, skew, tagShuffle(tag), tagSpill(tag))
  }

  /** Totals over every tag that starts with `prefix`. */
  def totals(prefix: String): (Long, Long) = synchronized {
    (tagShuffle.collect { case (t, v) if t.startsWith(prefix) => v }.sum,
      tagSpill.collect { case (t, v) if t.startsWith(prefix) => v }.sum)
  }
}

object Probe {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planFigures(plan: SparkPlan): PlanFigures = {
    val ns = nodes(plan)
    def sumMetric(name: String) = ns.flatMap(_.metrics.get(name)).map(_.value).sum
    PlanFigures(sumMetric("shuffleBytesWritten"), sumMetric("spillSize"))
  }
}

/** A span recorded on the driver: one call into the engine, timed from
  * outside. Spans of a run share its run id; `parent` is the index of the
  * enclosing span or -1.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int)

final class Spans(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1

  def apply[T](name: String)(f: => T): T = {
    val idx = spans.length
    val parent = open
    spans += Span(name, System.nanoTime(), 0L, parent)
    open = idx
    try f
    finally {
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      open = parent
    }
  }

  def lines: Iterator[String] = spans.iterator.zipWithIndex.map { case (s, i) =>
    s"""{"run":${Json.str(runId)},"id":$i,"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent}}"""
  }
}

/** Micro-batch figures of a finished streaming query. */
final case class StreamFigures(
    batches: Int,
    batchSeconds: Seq[Double],
    addBatchSeconds: Double,
    triggerOverheadSeconds: Double,
    rows: Long
)

object StreamFigures {
  def of(progress: Seq[StreamingQueryProgress]): StreamFigures = {
    // progress events without input are idle polls, not micro-batches
    val ps = progress.filter(_.numInputRows > 0)
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    StreamFigures(
      ps.length,
      ps.map(ms(_, "triggerExecution")),
      ps.map(ms(_, "addBatch")).sum,
      ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")).sum,
      ps.map(_.numInputRows).sum)
  }

  def merge(xs: Seq[StreamFigures]): StreamFigures = StreamFigures(
    xs.map(_.batches).sum, xs.flatMap(_.batchSeconds), xs.map(_.addBatchSeconds).sum,
    xs.map(_.triggerOverheadSeconds).sum, xs.map(_.rows).sum)
}
