package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace tree: operation → phase → Spark job →
  * stage. All spans of one operation share `op`; times are epoch
  * microseconds so listener timestamps (epoch ms) and the benchmark's own
  * clock share one axis.
  */
final class Span(val id: Int, val parent: Int, val op: Int,
    val kind: String, val name: String, val startUs: Long) {
  var endUs: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
  def dur: Double = (endUs - startUs) / 1e6
}

/** Span recorder for a traced run. Operation and phase spans come from
  * the benchmark's own wrappers around public calls; each phase runs
  * under its own Spark job group, so the listener can hang every job
  * (including jobs started on `Par` threads, which inherit the group)
  * and its stages under the phase that caused it. Counters are summed
  * on the job and stage spans. Everything stays in memory until
  * [[writeJson]].
  */
final class Tracer {
  private val origin = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = origin + System.nanoTime() / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val unattributed = mutable.ArrayBuffer.empty[Long]

  /** Whether the current operation is being traced. */
  @volatile var on = false
  private var curOp: Span = null

  def all: Seq[Span] = synchronized(spans.toList)
  /** Start times (epoch us) of jobs that carried no benchmark job group. */
  def unattributedJobs: Seq[Long] = synchronized(unattributed.toList)

  private def open(parent: Int, op: Int, kind: String, name: String,
      startUs: Long): Span = synchronized {
    val s = new Span(spans.size + 1, parent, if (op == 0) spans.size + 1 else op,
      kind, name, startUs)
    spans += s
    byId(s.id) = s
    s
  }

  /** Times one operation; returns its wall seconds and result. */
  def op[T](kind: String, name: String)(body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    if (on) curOp = open(0, 0, "op", s"$kind:$name", nowUs)
    try {
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    } finally if (curOp != null) {
      curOp.endUs = nowUs
      curOp = null
    }
  }

  /** Adds a counter to the current operation's span. */
  def note(k: String, v: Double): Unit = synchronized(if (curOp != null) curOp.add(k, v))

  /** One phase of the current operation, run under its own job group. */
  def phase[T](sc: SparkContext, name: String)(body: => T): T =
    if (curOp == null) body
    else {
      val p = open(curOp.id, curOp.op, "phase", name, nowUs)
      sc.setJobGroup(s"perfbench-${p.id}", name, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        p.endUs = nowUs
      }
    }

  private def phaseAt(ms: Long): Option[Span] = synchronized {
    val us = ms * 1000L
    spans.reverseIterator.find(s => s.kind == "phase" &&
      s.startUs <= us + 1000L && (s.endUs < 0 || us <= s.endUs + 1000L))
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench-"))
      group.flatMap(g => byId.get(g.stripPrefix("perfbench-").toInt)) match {
        case Some(ph) =>
          val j = open(ph.id, ph.op, "job", s"job ${e.jobId}", e.time * 1000L)
          jobs(e.jobId) = j
          e.stageIds.foreach(stageJob(_) = j)
        case None => unattributed += e.time * 1000L
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        j.endUs = e.time * 1000L
        if (e.jobResult != JobSucceeded) j.add("failed", 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        val s = open(j.id, j.op, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
        s.attrs("tasks_planned") = si.numTasks
        if (si.attemptNumber() > 0) j.add("stages_retried", 1)
        stageSpans((si.stageId, si.attemptNumber())) = s
        stageTasks((si.stageId, si.attemptNumber())) = mutable.ArrayBuffer.empty
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      stageSpans.get(key).foreach { s =>
        s.endUs = si.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
        val d = stageTasks.getOrElse(key, mutable.ArrayBuffer.empty).sorted
        if (d.nonEmpty) {
          s.attrs("task_max_s") = d.last
          s.attrs("task_median_s") = d(d.size / 2)
        }
        stageTasks.remove(key)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpans.get((e.stageId, e.stageAttemptId)).foreach { st =>
        val j = byId(st.parent)
        val ti = e.taskInfo
        val all = Seq(st, j)
        all.foreach(_.add("tasks", 1))
        if (ti.failed || ti.killed) all.foreach(_.add("tasks_failed", 1))
        if (ti.attemptNumber > 0) all.foreach(_.add("tasks_retried", 1))
        all.foreach(_.add("task_wait_s", math.max(0L, ti.launchTime - st.startUs / 1000L) / 1e3))
        stageTasks.get((e.stageId, e.stageAttemptId))
          .foreach(_ += (ti.finishTime - ti.launchTime) / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (records == 0) all.foreach(_.add("tasks_empty", 1))
          all.foreach { s =>
            s.add("run_s", m.executorRunTime / 1e3)
            s.add("cpu_s", m.executorCpuTime / 1e9)
            s.add("gc_s", m.jvmGCTime / 1e3)
            s.add("input_bytes", m.inputMetrics.bytesRead)
            s.add("input_records", m.inputMetrics.recordsRead)
            s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
            s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            s.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
            s.add("spill_bytes", m.diskBytesSpilled)
            s.add("output_bytes", m.outputMetrics.bytesWritten)
          }
        }
      }
    }
  }

  /** Catalyst phase times of every executed command, hung on the phase
    * span whose interval holds the command's planning.
    */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      for ((k, v) <- ph if Set("analysis", "optimization", "planning")(k))
        phaseAt(v.startTimeMs).foreach(p => synchronized(p.add(s"catalyst_${k}_s", v.durationMs / 1e3)))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}",""")
      sb.append(s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},""")
      sb.append(s""""attrs":${Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Interval arithmetic over spans. */
object Spans {
  /** Length of the union of the intervals, in seconds. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }

  /** Self time: the span's duration minus the part its children cover. */
  def self(s: Span, children: Seq[Span]): Double =
    s.dur - union(children.map(c => (math.max(c.startUs, s.startUs),
      math.min(if (c.endUs > 0) c.endUs else s.endUs, s.endUs))))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
