package graft.bench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counts one span (or one phase) accumulates. */
object Counts {
  val keys: IndexedSeq[String] = IndexedSeq(
    "jobs", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b",
    "input_b", "input_rows", "output_b", "output_rows",
    "plans", "exchanges")
  private val at = keys.zipWithIndex.toMap
  def idx(k: String): Int = at(k)
}

/** One benchmark call into a layer: wall interval, parent, the op it
  * belongs to, and the listener counts tied to it through the
  * `perfbench.span` local property.
  */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val op: Int, val phase: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  val counts = new Array[Long](Counts.keys.size)
  /** Per-call numbers the benchmark reads itself (dirs opened, rows). */
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = (end - start) / 1e6
}

/** Spans and listener counts for one run. With `traced` off, [[span]]
  * only runs its body: no listener is registered and nothing is kept,
  * so the untraced run pays one boolean test per call.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val t0 = System.nanoTime()

  private val byId = new ConcurrentHashMap[Int, Span]()
  private val order = mutable.ArrayBuffer.empty[Span]
  private val root = new Span(0, "run", "run", -1, 0, "run", t0)
  byId.put(0, root)
  @volatile private var current: Span = root
  @volatile var phase: String = "setup"

  /** Counts of the current phase, whatever span they landed in. */
  val phaseCounts = new Array[Long](Counts.keys.size)
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (batch ms, input rows, state rows) per streaming progress event. */
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!traced) body
    else {
      val parent = current
      val s = order.synchronized {
        val id = order.size + 1
        val sp = new Span(id, name, layer, parent.id,
          if (layer == "op") id else parent.op, phase, System.nanoTime())
        order += sp
        sp
      }
      byId.put(s.id, s)
      val prev = sc.getLocalProperty(Prop)
      current = s
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current = parent
        sc.setLocalProperty(Prop, prev)
      }
    }

  def currentSpan: Span = current

  def spans: Seq[Span] = order.synchronized(order.toSeq)

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = if (traced) org.apache.spark.graftbench.Bus.drain(sc)

  /** Starts a new phase: drained, with phase-level counts zeroed. */
  def beginPhase(name: String): Unit = {
    drain()
    synchronized {
      java.util.Arrays.fill(phaseCounts, 0L)
      stageReads.clear()
      batches.clear()
    }
    phase = name
  }

  /** Worst stage's max / median shuffle read per reduce task in the
    * current phase (stages with at least two reading tasks).
    */
  def skewMaxMedian: Double = synchronized {
    stageReads.values.filter(_.size >= 2).map { r =>
      val med = Stats.median(r.toSeq.map(_.toDouble))
      if (med > 0) r.max / med else 0.0
    }.foldLeft(0.0)((a, b) => math.max(a, b))
  }

  private def spanOf(p: Properties): Span =
    Option(p).flatMap(pp => Option(pp.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toInt))).getOrElse(root)

  private def add(s: Span, k: String, v: Long): Unit = {
    val i = Counts.idx(k)
    synchronized {
      s.counts(i) += v
      phaseCounts(i) += v
    }
  }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      add(s, "jobs", 1)
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, s))
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Option(stageSpan.get(e.stageInfo.stageId)).getOrElse(root),
        "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).getOrElse(root)
      add(s, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(s, "task_ms", m.executorRunTime)
        add(s, "gc_ms", m.jvmGCTime)
        add(s, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        val read = m.shuffleReadMetrics.totalBytesRead
        add(s, "shuffle_read_b", read)
        add(s, "spill_b", m.diskBytesSpilled)
        add(s, "input_b", m.inputMetrics.bytesRead)
        add(s, "input_rows", m.inputMetrics.recordsRead)
        add(s, "output_b", m.outputMetrics.bytesWritten)
        add(s, "output_rows", m.outputMetrics.recordsWritten)
        if (read > 0) Recorder.this.synchronized {
          stageReads.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer.empty[Long]) += read
        }
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val s = Option(execSpan.get(qe.id)).getOrElse(root)
      add(s, "plans", 1)
      add(s, "exchanges", Recorder.exchanges(qe.executedPlan))
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(Recorder.ObservePrefix)) {
          val sp = byId.get(name.stripPrefix(Recorder.ObservePrefix).toInt)
          if (sp != null) sp.synchronized {
            val n = row.getLong(0).toDouble
            sp.attrs("rows_changed") =
              math.max(sp.attrs.getOrElse("rows_changed", 0.0), n)
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Recorder.this.synchronized {
        batches += ((p.batchDuration, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
  }

  if (traced) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  /** Milliseconds since the recorder started. */
  def relMs(ns: Long): Double = (ns - t0) / 1e6
}

object Recorder {
  val ObservePrefix = "pb_rows_"

  /** Exchange nodes of an executed plan, looking through AQE's final
    * plan and its query stages; a reused exchange counts once.
    */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case b: BroadcastExchangeLike => 1 + b.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
