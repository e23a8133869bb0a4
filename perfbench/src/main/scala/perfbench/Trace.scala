package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run. `parent` links it to the span
  * that caused it: workload → op → phase (construct/execute, trigger,
  * ledger stage) → job → stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** Scheduler/executor counters of one op, summed over its tasks. */
final class OpCounters {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var runMs, cpuMs, gcMs, deserMs, fetchWaitMs = 0.0
  var shuffleWriteB, shuffleReadB, spillB = 0L
  /** (launch, finish) of every task, for the op's busy union. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStarts = mutable.ArrayBuffer.empty[Long]
}

/** In-memory trace of a run, fed by Spark's public listener APIs.
  *
  * Jobs are attributed to ops by their job group, which the harness
  * sets per op and Spark hands down to threads the op starts, or by
  * the streaming batch id a trigger's jobs carry. Catalyst phase
  * times arrive without thread context and are attributed by time
  * window, which is exact for a closed loop with one client.
  * Everything is kept in memory and written once, at the end. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val counters = mutable.Map.empty[String, OpCounters]
  private val opSpanOfKey = mutable.Map.empty[String, Long]
  /** span id → attribution key, for job spans whose op is bound later */
  private val spanKey = mutable.Map.empty[Long, String]
  private val jobKey = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Double)]
  private val stageKey = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (start, end, analysis, optimization, planning) ms per finished query. */
  private val phases = mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Double)]
  @volatile private var jobsOpen = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def alloc(): Long = synchronized { val id = nextId; nextId += 1; id }

  def newSpan(parent: Long, kind: String, name: String, startMs: Double,
      endMs: Double, attrs: Map[String, Double] = Map.empty): Long = synchronized {
    val id = alloc()
    spans += Span(id, parent, kind, name, startMs, endMs, attrs)
    id
  }

  /** Bind an attribution key (a job group or stream trigger) to its span. */
  def bind(key: String, spanId: Long): Unit = synchronized { opSpanOfKey(key) = spanId }

  def allSpans: Seq[Span] = synchronized { spans.toSeq }

  def countersOf(key: String): OpCounters = synchronized {
    counters.getOrElseUpdate(key, new OpCounters)
  }

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "" else {
      val g = Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
      Option(p.getProperty("streaming.sql.batchId")) match {
        case Some(b) => s"$g:$b"
        case None => g
      }
    }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val k = keyOf(e.properties)
      jobKey(e.jobId) = k
      e.stageIds.foreach { st => stageKey.getOrElseUpdate(st, k); stageJob.getOrElseUpdate(st, e.jobId) }
      val c = countersOf(k)
      c.jobs += 1
      c.jobStarts += e.time
      jobSpan(e.jobId) = (alloc(), e.time.toDouble)
      jobsOpen += 1; touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).foreach { case (id, t0) =>
        spans += Span(id, 0L, "job", s"job ${e.jobId}", t0, e.time.toDouble)
        spanKey(id) = jobKey.getOrElse(e.jobId, "")
      }
      jobsOpen -= 1; touch()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val k = stageKey.getOrElseUpdate(e.stageInfo.stageId, keyOf(e.properties))
        countersOf(k).stages += 1; touch()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        for (t0 <- si.submissionTime; t1 <- si.completionTime) {
          val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(0L)
          newSpan(parent, "stage", s"stage ${si.stageId}", t0.toDouble, t1.toDouble,
            Map("tasks" -> si.numTasks.toDouble))
        }
        touch()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = countersOf(stageKey.getOrElse(e.stageId, ""))
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val ti = e.taskInfo
      if (ti != null && ti.finishTime > 0) c.taskSpans += ((ti.launchTime, ti.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        val sr = m.shuffleReadMetrics
        c.fetchWaitMs += sr.fetchWaitTime
        c.shuffleReadB += sr.remoteBytesRead + sr.localBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead + sr.recordsRead == 0) c.emptyTasks += 1
      }
      touch()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      if (ph.nonEmpty) Trace.this.synchronized {
        phases += ((ph.values.map(_.startTimeMs).min.toDouble,
          ph.values.map(_.endTimeMs).max.toDouble,
          ms("analysis"), ms("optimization"), ms("planning")))
      }
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  /** Wait until the asynchronous listener buses have delivered every
    * event of the finished work: no job open and 300 ms of silence. */
  def quiesce(maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
        (jobsOpen > 0 || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  /** Catalyst phase sums (analysis, optimization, planning) of the
    * queries whose phases fall inside [t0, t1]. */
  def phasesIn(t0: Double, t1: Double): (Double, Double, Double) = synchronized {
    val in = phases.filter(p => p._1 >= t0 - 1 && p._2 <= t1 + 1)
    (in.map(_._3).sum, in.map(_._4).sum, in.map(_._5).sum)
  }

  /** Length of the union of the op's task intervals clipped to
    * [t0, t1]: the time at least one of its tasks ran. */
  def busyMs(c: OpCounters, t0: Double, t1: Double): Double = {
    val iv = c.taskSpans.map { case (a, b) => (math.max(a.toDouble, t0), math.min(b.toDouble, t1)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = -1.0; var curB = -1.0
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def spansJson: String = allSpans.map { s0 =>
    val s = if (s0.parent != 0) s0 else synchronized {
      s0.copy(parent = spanKey.get(s0.id).flatMap(opSpanOfKey.get).getOrElse(0L))
    }
    val at = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
      s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":$at}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
