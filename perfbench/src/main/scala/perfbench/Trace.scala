package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}

/** One timed call into an engine module. Times are epoch milliseconds
  * (the clock Spark stamps its listener events with) plus a nanosecond
  * wall for precision.
  */
final case class Span(name: String, pass: Int, startMs: Long, endMs: Long, wallNs: Long)

/** Work counted for one span: job/task counters from the SparkListener and
  * plan-operator counters from the QueryExecutionListener.
  */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var execMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var scanRows = 0L
  var jobBusyMs = 0L
  val plan: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

/** Records spans and attributes Spark's own counters to them.
  *
  * Calls run one at a time, so every job, task and SQL execution belongs
  * to the call span open when it started. Listener events arrive
  * asynchronously; attribution therefore happens after the session is
  * stopped, when the listener bus has drained.
  *
  * Untraced, no listener is registered and only span walls are kept (the
  * end-to-end metrics need those).
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var currentPass = 0
  // listener-side records (bus thread)
  private val jobs = mutable.Map.empty[Int, Tracer.Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Tracer.Task]
  private val sqlStartMs = mutable.Map.empty[Long, Long]
  private val planCounts = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private var pending: Option[Map[String, Double]] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Tracer.Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { j =>
        tasks += Tracer.Task(j, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlStartMs(s.executionId) = s.time
      }
      // the QueryExecutionListener ran for this execution just before (it
      // sits earlier on the same listener queue): its counts are pending
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        pending.foreach(c => planCounts += ((s.executionId, c)))
        pending = None
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val counts = Tracer.planCounts(qe.executedPlan)
      Tracer.this.synchronized { pending = Some(counts) }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  /** Trace from here on: register both listeners. The
    * QueryExecutionListener goes first, so that its bus precedes the
    * SparkListener on the shared listener queue.
    */
  def enable(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(listener)
  }

  def pass(k: Int): Unit = currentPass = k

  /** Time `body` as one span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      val s = Span(name, currentPass, ms0, System.currentTimeMillis(), wall)
      synchronized { spans += s }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Counters per span, in span order. Call only after the session has
    * stopped (the listener bus must have drained).
    */
  def attribute(): Seq[(Span, Counts)] = synchronized {
    val ss = spans.toIndexedSeq.sortBy(_.startMs)
    val cs = ss.map(_ => new Counts)
    // calls never overlap: the owner is the span whose interval holds ms
    def owner(ms: Long): Int = {
      val i = ss.lastIndexWhere(_.startMs <= ms)
      if (i >= 0 && ss(i).endMs >= ms) i else -1
    }
    val jobSpan = jobs.values.map(j => j.id -> owner(j.startMs)).filter(_._2 >= 0).toMap
    // driver-only time is the span's wall minus the UNION of its jobs' intervals
    jobs.values.filter(j => jobSpan.contains(j.id)).groupBy(j => jobSpan(j.id)).foreach {
      case (i, js) =>
        cs(i).jobs = js.size
        val end = ss(i).endMs
        var busy = 0L; var curS = 0L; var curE = -1L
        js.toSeq.map(j => (j.startMs, if (j.endMs < 0) end else math.min(j.endMs, end)))
          .sortBy(_._1).foreach { case (s, e) =>
            if (s > curE) { busy += math.max(0L, curE - curS); curS = s; curE = e }
            else curE = math.max(curE, e)
          }
        cs(i).jobBusyMs = busy + math.max(0L, curE - curS)
    }
    tasks.foreach { t =>
      jobSpan.get(t.job).foreach { i =>
        val c = cs(i)
        c.tasks += 1; c.execMs += t.execMs; c.shuffleWrite += t.shuffleWrite
        c.spill += t.spill; c.scanRows += t.scanRows
      }
    }
    planCounts.foreach { case (id, m) =>
      sqlStartMs.get(id).map(owner).filter(_ >= 0).foreach { i =>
        m.foreach { case (k, v) => cs(i).plan(k) += v }
      }
    }
    ss.zip(cs)
  }
}

object Tracer {
  private final case class Job(id: Int, startMs: Long, var endMs: Long)
  private final case class Task(job: Int, execMs: Long, shuffleWrite: Long, spill: Long,
      scanRows: Long)

  private def metric(p: SparkPlan, key: String): Double =
    p.metrics.get(key).map(_.value.toDouble).getOrElse(0.0)

  /** Nodes of an executed plan, through AQE wrappers and query stages;
    * reused exchanges are skipped (their work is counted where it ran).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows a node emitted: its own numOutputRows, or the nearest child's
    * when the node is fused into whole-stage codegen without a counter.
    */
  private def rowsOut(p: SparkPlan): Double =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children.map(rowsOut).sum

  private val generators = Map(
    "TensorExplode" -> "tensor_explode", "PairExplode" -> "pair_explode")

  /** Operator counts of one executed plan: rows emitted by each engine
    * kernel and shuffle bytes per exchange kind.
    */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    nodes(plan).foreach {
      case g: GenerateExec =>
        generators.get(g.generator.getClass.getSimpleName).foreach { k =>
          out(s"tensor.$k.generate_rows") += metric(g, "numOutputRows")
        }
      case e: ShuffleExchangeExec =>
        val kind = e.outputPartitioning match {
          case _: RoundRobinPartitioning => Some("roundrobin")
          case _: HashPartitioning => Some("hash")
          case _ => None
        }
        kind.foreach(k => out(s"core.Tables.exchange_bytes.$k") += metric(e, "shuffleBytesWritten"))
      case n =>
        val hasSig = n.expressions.exists(_.exists(_.getClass.getSimpleName == "MinHashSig"))
        if (hasSig) out("tensor.minhash_sig.generate_rows") += rowsOut(n)
    }
    out.toMap
  }
}
