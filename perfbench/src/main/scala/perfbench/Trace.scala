package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span cost Spark: the jobs it started and their tasks' metrics,
  * plus the executed plans of the actions it ran. */
final class SpanStats(val name: String) {
  var wallNs = 0L
  val jobs, tasks, cpuNs, gcMs, shuffleBytes, spillBytes,
    writtenBytes = new AtomicLong
  val plans: ArrayBuffer[SparkPlan] = ArrayBuffer[SparkPlan]()
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs.get / 1e9
}

/** The benchmark's own tracing, recorded from outside the program.
  *
  * `span` wraps one call into a layer's public function: it gives the call
  * its own Spark job group, and while the tracer is on, a `SparkListener`
  * folds every task of the group's jobs into the span and a
  * `QueryExecutionListener` keeps the executed plans of its actions. Jobs
  * started on other threads (the HTTP API's handlers) carry no group; they
  * go to the `phase` span the benchmark has open, and with none open they
  * are counted as unattributed rather than dropped. Spans live in memory
  * and are reported at exit.
  */
object Trace {
  private val open = new ConcurrentHashMap[String, SpanStats]
  private val stageSpan = new ConcurrentHashMap[Int, SpanStats]
  @volatile private var current: SpanStats = null
  @volatile private var phaseSpan: SpanStats = null
  private val ids = new AtomicLong
  val closed: ArrayBuffer[SpanStats] = ArrayBuffer[SpanStats]()
  val unattributedJobs = new AtomicLong
  @volatile private var on = false
  private var spark: SparkSession = _

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.flatMap(g => Option(open.get(g))).orElse(Option(phaseSpan))
      span match {
        case Some(s) =>
          s.jobs.incrementAndGet()
          e.stageIds.foreach(stageSpan.put(_, s))
        case None => unattributedJobs.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.tasks.incrementAndGet()
          s.cpuNs.addAndGet(m.executorCpuTime)
          s.gcMs.addAndGet(m.jvmGCTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).orElse(Option(phaseSpan)).foreach(s => s.plans.synchronized(s.plans += qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Turn the listeners on or off; off, a span only times its call. */
  def enable(session: SparkSession, b: Boolean): Unit = if (b != on) {
    spark = session
    PerfbenchBus.drain(session.sparkContext)
    if (b) {
      session.sparkContext.addSparkListener(Jobs)
      session.listenerManager.register(Plans)
    } else {
      session.sparkContext.removeSparkListener(Jobs)
      session.listenerManager.unregister(Plans)
    }
    on = b
  }

  /** Time `f` as one span named `name` (run on the calling thread). */
  def span[T](name: String)(f: => T): (T, SpanStats) = {
    val s = new SpanStats(name)
    val id = s"perfbench-${ids.incrementAndGet()}"
    if (on) {
      PerfbenchBus.drain(spark.sparkContext)
      open.put(id, s)
      current = s
      spark.sparkContext.setJobGroup(id, name)
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      s.wallNs = System.nanoTime() - t0
      (r, s)
    } finally {
      if (s.wallNs == 0) s.wallNs = System.nanoTime() - t0
      if (on) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.clearJobGroup()
        current = null
        open.remove(id)
        closed.synchronized(closed += s)
      }
    }
  }

  /** Open a phase span for work the program runs on its own threads. */
  def phase[T](name: String)(f: => T): (T, SpanStats) = {
    val s = new SpanStats(name)
    if (on) { PerfbenchBus.drain(spark.sparkContext); phaseSpan = s }
    val t0 = System.nanoTime()
    try (f, s)
    finally {
      s.wallNs = System.nanoTime() - t0
      if (on) {
        PerfbenchBus.drain(spark.sparkContext)
        phaseSpan = null
        closed.synchronized(closed += s)
      }
    }
  }

  /** Every node of an executed plan, through adaptive stages and cached
    * relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (inputs(other) ++ other.subqueries).flatMap(nodes)
  }

  /** A node's inputs, looking through adaptive query stages. */
  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => Seq(q.plan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case other => other.children
  }

  def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** The similarity join's counts from a span's plans: candidate pairs
    * scored, and pairs kept by both scorers. The scoring node is the join
    * (or filter) whose condition calls `token_set_ratio`; for a nested-loop
    * join the candidates are the product of its two inputs. Each node is
    * counted once, however many actions saw it. */
  def simJoinCounts(s: SpanStats): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    var (cand, kept) = (0L, 0L)
    def firstCounted(p: SparkPlan): Option[Long] =
      rows(p).orElse(inputs(p).headOption.flatMap(firstCounted))
    def scores(e: Option[Expression]) = e.exists(_.sql.contains("token_set_ratio"))
    s.plans.synchronized(s.plans.toList).flatMap(nodes).foreach {
      case j: BroadcastNestedLoopJoinExec if scores(j.condition) && seen.add(j) =>
        cand += j.children.map(firstCounted(_).getOrElse(0L)).product
        kept += rows(j).getOrElse(0L)
      case f: FilterExec if scores(Some(f.condition)) && seen.add(f) =>
        cand += firstCounted(f.child).getOrElse(0L)
        kept += rows(f).getOrElse(0L)
      case _ =>
    }
    (cand, kept)
  }
}
