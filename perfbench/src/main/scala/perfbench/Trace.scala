package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run report (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Counters of one timed call, filled by the listeners in a traced run. */
final class CallStats {
  var jobs, stages, tasks, failedTasks, buildJobs = 0L
  var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var rowsRead, bytesRead, bytesWritten, filesRead = 0L
  var planMs, exchanges, codegenStages, outsideCodegen, buildNs = 0L
  var skew = 0.0
  var building = false
  val jobSpans = ArrayBuffer[(Long, Long)]()
}

/** Job, stage and task counters per call. Events are attributed to the call
  * that is current when they are delivered; the recorder drains the bus at
  * every call boundary so no event crosses into the next call.
  */
final class StatsListener(current: () => CallStats) extends SparkListener {
  private val jobStart = mutable.Map[Int, (Long, CallStats)]()
  private val stageTasks = mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val st = current()
    if (st != null) {
      st.jobs += 1
      if (st.building) st.buildJobs += 1
      jobStart(e.jobId) = (e.time, st)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, st) => st.jobSpans += ((t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = current()
    if (st == null) return
    st.tasks += 1
    if (e.reason != Success) st.failedTasks += 1
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.taskMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.rowsRead += m.inputMetrics.recordsRead
      st.bytesRead += m.inputMetrics.bytesRead
      st.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = current()
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val durs = stageTasks.remove(key).getOrElse(ArrayBuffer()).sorted
    if (st != null) {
      st.stages += 1
      if (durs.size >= 2) {
        val med = math.max(durs(durs.size / 2), 1L)
        st.skew = math.max(st.skew, durs.last.toDouble / med)
      }
    }
  }
}

/** Planning time and executed-plan shape per SQL action. */
final class PlanListener(current: () => CallStats) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val st = current()
    if (st == null) return
    st.planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    walk(qe.executedPlan, inCodegen = false, st)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def walk(p: SparkPlan, inCodegen: Boolean, st: CallStats): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen, st)
      case q: QueryStageExec => walk(q.plan, inCodegen, st)
      case r: ReusedExchangeExec => walk(r.child, inCodegen, st)
      case w: WholeStageCodegenExec =>
        st.codegenStages += 1
        walk(w.child, inCodegen = true, st)
      case i: InputAdapter => walk(i.child, inCodegen = false, st)
      case other =>
        if (other.isInstanceOf[ShuffleExchangeLike]) st.exchanges += 1
        if (!inCodegen) st.outsideCodegen += 1
        other match {
          case s: FileSourceScanExec =>
            st.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
        other.children.foreach(walk(_, inCodegen, st))
    }
    p.subqueries.foreach(walk(_, inCodegen = false, st))
  }
}

/** One timed call (untraced and traced runs) or set-up step. */
final case class CallRecord(id: Int, name: String, layer: String, kind: String,
                            round: Int, secs: Double, error: Option[String],
                            stats: Option[CallStats], extra: Map[String, Double])

/** A span: name, start and end (ns since run start), and its parent. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Times set-up steps and calls, keeps spans in memory and, in a traced run,
  * attaches per-call counters from the listeners.
  */
final class Recorder(spark: SparkSession, traced: Boolean) {
  private val t0 = System.nanoTime()
  @volatile private var cur: CallStats = null
  private var tracing = false
  val calls = ArrayBuffer[CallRecord]()
  val setup = ArrayBuffer[CallRecord]()
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var parent = -1
  var cacheHeldBytes = 0L
  var cacheBlocks = 0L

  if (traced) {
    spark.sparkContext.addSparkListener(new StatsListener(() => cur))
    spark.listenerManager.register(new PlanListener(() => cur))
  }

  /** Driver time spent waiting for listener delivery and sampling caches. */
  var bookkeepingNs = 0L

  /** Turns counter collection on or off (on for the timed rounds of a
    * traced run).
    */
  def setTracing(on: Boolean): Unit = tracing = traced && on

  private def bookkeeping(body: => Unit): Unit = if (tracing) {
    val s = System.nanoTime()
    body
    bookkeepingNs += System.nanoTime() - s
  }

  private def drain(): Unit = bookkeeping(PerfbenchBus.drain(spark.sparkContext))

  private def cacheSample(): Unit = bookkeeping {
    val info = spark.sparkContext.getRDDStorageInfo
    cacheHeldBytes = math.max(cacheHeldBytes, info.map(i => i.memSize + i.diskSize).sum)
    cacheBlocks = math.max(cacheBlocks, info.map(_.numCachedPartitions.toLong).sum)
  }

  /** A span around `body`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val p = parent
    parent = id
    val s = System.nanoTime()
    try body finally {
      spans += Span(id, name, p, s - t0, System.nanoTime() - t0)
      parent = p
    }
  }

  /** Marks the part of the current call that builds a DataFrame (jobs run
    * there are counted as `entry.build_jobs`).
    */
  def building[T](body: => T): T = {
    val st = cur
    if (st != null) st.building = true
    val s = System.nanoTime()
    try span("build")(body) finally {
      if (st != null) st.buildNs += System.nanoTime() - s
      drain()
      if (st != null) st.building = false
    }
  }

  private def timed(name: String, layer: String, kind: String, round: Int,
                    sink: ArrayBuffer[CallRecord])(body: => Map[String, Double]): Boolean = {
    val st = if (tracing) new CallStats else null
    drain()
    cacheSample()
    cur = st
    val id = nextId
    val s = System.nanoTime()
    val (err, extra) =
      try (None, span(s"$layer:$name")(body))
      catch { case NonFatal(e) => (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)), Map.empty[String, Double]) }
    val secs = (System.nanoTime() - s) / 1e9
    drain()
    cur = null
    cacheSample()
    sink += CallRecord(id, name, layer, kind, round, secs, err, Option(st), extra)
    err.isEmpty
  }

  /** A timed call of the workload. Returns false when it failed. */
  def call(name: String, layer: String, kind: String, round: Int)(body: => Map[String, Double]): Boolean =
    timed(name, layer, kind, round, calls)(body)

  /** A set-up step: timed into `setup_s`, a failure is recorded by name. */
  def step(name: String)(body: => Unit): Boolean =
    timed(name, "setup", "setup", -1, setup) { body; Map.empty }
}
