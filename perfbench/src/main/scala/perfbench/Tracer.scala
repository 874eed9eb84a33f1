package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for harness spans (nanoTime) and listener events (epoch
  * milliseconds), in seconds since JVM main entry. */
final class Clock {
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - t0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1000.0
}

/** In-memory span recorder for the traced mode. The harness opens spans
  * around its own calls into each layer's public functions; a SparkListener
  * and a QueryExecutionListener observe the engine from outside. Every job
  * carries the id of the span that was open on the submitting thread (a
  * local property), so listener job and stage spans hang under it. */
final class Tracer(spark: SparkSession, clock: Clock) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String,
                   val layer: String, val start: Double) {
    var end: Double = start
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
    def record: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "name" -> name, "layer" -> layer, "start" -> start, "end" -> end,
      "attrs" -> attrs)
  }

  private final class Job(val id: Int, val span: Int, val start: Double,
                          val stageIds: Seq[Int]) {
    var end: Double = start
    var ok: Boolean = false
  }

  private final class StageAgg(val id: Int) {
    var start = 0.0
    var end = 0.0
    var tasks = 0
    var taskS = 0.0
    var maxTaskS = 0.0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var failed = 0
  }

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var current = -1
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.LinkedHashMap[Int, StageAgg]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val qes = mutable.ArrayBuffer[Qe]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs += new Job(e.jobId, span, clock.fromEpochMs(e.time), e.stageIds)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = clock.fromEpochMs(e.time)
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate(i.stageId, new StageAgg(i.stageId))
      a.start = i.submissionTime.map(clock.fromEpochMs).getOrElse(0.0)
      a.end = i.completionTime.map(clock.fromEpochMs).getOrElse(a.start)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      val d = e.taskInfo.duration / 1000.0
      a.tasks += 1
      a.taskS += d
      a.maxTaskS = math.max(a.maxTaskS, d)
      if (!e.taskInfo.successful) a.failed += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Forget every span recorded so far (the warm-up's). */
  def clear(): Unit = { spans.clear(); current = -1 }

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (clock.fromEpochMs(p.startTimeMs), clock.fromEpochMs(p.endTimeMs))
    }
    val plan = planNodes(qe.executedPlan)
    val rec = Qe(phases,
      plan.count(_.isInstanceOf[ShuffleExchangeLike]),
      plan.count(_.isInstanceOf[WindowExec]),
      plan.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      }.flatten.distinct)
    synchronized { qes += rec }
  }

  /** Run `body` inside a new span; jobs it submits are tagged with the span. */
  def span[T](name: String, layer: String)(body: Span => T): T = {
    val s = new Span(spans.size, current, name, layer, clock.now())
    spans += s
    val prev = current
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s)
    finally {
      s.end = clock.now()
      current = prev
      sc.setLocalProperty(SpanKey, if (prev >= 0) prev.toString else null)
    }
  }

  /** Add a span whose bounds are known only after the fact. */
  def addSpan(parent: Int, name: String, layer: String, start: Double, end: Double,
              attrs: Map[String, Any]): Span = {
    val s = new Span(spans.size, parent, name, layer, start)
    s.end = end
    s.attrs ++= attrs
    spans += s
    s
  }

  /** Wait for the listener bus and return the query executions that
    * completed since the last call. */
  def drainQes(): Seq[Qe] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { val out = qes.toList; qes.clear(); out }
  }

  /** Turn the jobs and stages seen since the last call into spans under the
    * span each job was submitted from (or its replacement in `remap`). */
  def materialize(remap: Map[Int, Int] = Map.empty): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val jobSpan = mutable.HashMap[Int, Int]()
      jobs.foreach { j =>
        val s = addSpan(remap.getOrElse(j.span, j.span), s"job ${j.id}", "job", j.start, j.end,
          Map("ok" -> j.ok, "stages" -> j.stageIds.count(stages.contains)))
        jobSpan(j.id) = s.id
      }
      stages.values.foreach { a =>
        addSpan(stageJob.get(a.id).flatMap(jobSpan.get).getOrElse(-1), s"stage ${a.id}",
          "stage", a.start, a.end, Map("tasks" -> a.tasks, "task_s" -> a.taskS,
            "max_task_s" -> a.maxTaskS, "shuffle_write_bytes" -> a.shuffleWrite,
            "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
            "input_bytes" -> a.input, "failed_tasks" -> a.failed))
      }
      jobs.clear(); stages.clear(); stageJob.clear()
    }
  }

  def records: Seq[Map[String, Any]] = spans.map(_.record).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** One completed query execution: planning phases, plan shape, scans. */
  final case class Qe(phases: Map[String, (Double, Double)],
                      exchanges: Int, windows: Int, tables: Seq[String]) {
    def phaseSeconds(p: String): Double = phases.get(p).map(x => x._2 - x._1).getOrElse(0.0)
    def planStart: Double = phases.values.map(_._1).minOption.getOrElse(0.0)
    def planEnd: Double = phases.values.map(_._2).maxOption.getOrElse(0.0)
  }

  /** Every node of an executed plan, looking through adaptive plans, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
