package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.graftbench.SparkBus

/** In-memory span tracer for the traced run.
  *
  * Span hierarchy: workload → phase → micro-batch → Spark job → stage.
  * Phases are opened by the benchmark; micro-batches come from
  * `StreamingQueryListener.onQueryProgress`; jobs and stages from a
  * `SparkListener`, tied to their phase through the job group the
  * benchmark sets around each phase (batch phases) or through the
  * streaming query id and batch id Spark stamps on every micro-batch job.
  * Records stay in memory and are resolved into spans when the run ends,
  * so nothing but a few map inserts happens on the listener thread.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val queryPhase = new ConcurrentHashMap[String, Integer]()

  private val jobs = new ConcurrentHashMap[Integer, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val taskPeak = new ConcurrentHashMap[(Int, Int), AtomicLong]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  /** Time spent inside this tracer's listener callbacks. */
  val listenerNanos = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  private object engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
        prop("spark.jobGroup.id"), prop(QueryIdKey), prop(BatchIdKey),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val j = jobs.get(e.jobId)
      if (j != null) jobs.put(e.jobId, j.copy(end = e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null)
        taskPeak.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new AtomicLong).accumulateAndGet(m.peakExecutionMemory,
          (a, b) => math.max(a, b))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed {
        val s = e.stageInfo
        val m = s.taskMetrics
        if (m != null && s.submissionTime.isDefined)
          stages.put((s.stageId, s.attemptNumber()), StageRec(
            s.stageId, s.attemptNumber(), s.submissionTime.get.toDouble,
            s.completionTime.getOrElse(s.submissionTime.get).toDouble,
            s.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
            m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      }
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        val p = e.progress
        progress.add(BatchRec(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
  }

  if (enabled) {
    sc.addSparkListener(engine)
    spark.streams.addListener(streams)
  }

  val root: Int = open("workload", "workload", -1)

  private def open(name: String, kind: String, parent: Int): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, kind, nowMs(), Double.NaN)
    id
  }

  /** Run `body` as one phase. `group` classes the phase for the per-layer
    * roll-up: `write`, `read`, `first`, `probe` or `setup`.
    */
  def phase[T](name: String, group: String)(body: => T): T = {
    val id = open(name, "phase", root)
    val ph = Phase(id, name, group)
    phases += ph
    if (enabled) sc.setJobGroup(s"$GroupPrefix$id", name, interruptOnCancel = false)
    try body
    finally {
      spans(id) = spans(id).copy(end = nowMs())
      if (enabled) sc.clearJobGroup()
    }
  }

  /** Tie a streaming query's micro-batches to the phase running it. */
  def bindQuery(queryId: java.util.UUID): Unit =
    phases.lastOption.foreach(p => queryPhase.put(queryId.toString, p.id))

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) SparkBus.drain(sc, 30000L)

  def close(): Unit = {
    spans(root) = spans(root).copy(end = nowMs())
    if (enabled) {
      sc.removeSparkListener(engine)
      spark.streams.removeListener(streams)
    }
  }

  /** Resolve listener records into spans and roll them up. */
  def resolve(): Resolved = {
    val all = spans.clone()
    if (all(root).end.isNaN) all(root) = all(root).copy(end = nowMs())
    val phaseOf = mutable.HashMap.empty[Int, Int] // span id → phase span id
    phases.foreach(p => phaseOf(p.id) = p.id)
    def add(parent: Int, name: String, kind: String, s: Double, e: Double): Int = {
      val id = all.size
      all += Span(id, parent, name, kind, s, e)
      phaseOf(id) = phaseOf.getOrElse(parent, -1)
      id
    }
    val batchSpan = mutable.HashMap.empty[(String, Long), Int]
    progress.asScala.toSeq.filter(_.rows > 0).sortBy(_.start).foreach { b =>
      val ph = queryPhase.get(b.queryId)
      if (ph != null) {
        val end = b.start + b.durations.getOrElse("triggerExecution", 0L)
        batchSpan((b.queryId, b.batchId)) =
          add(ph, s"batch ${b.batchId}", "batch", b.start, end)
      }
    }
    val jobSpan = mutable.HashMap.empty[Int, Int]
    val stageJob = mutable.HashMap.empty[Int, Int]
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val parent =
        if (j.queryId != null && j.batchId != null)
          batchSpan.get((j.queryId, j.batchId.toLong))
            .orElse(Option(queryPhase.get(j.queryId)).map(_.intValue))
        else if (j.group != null && j.group.startsWith(GroupPrefix))
          Some(j.group.stripPrefix(GroupPrefix).toInt)
        else None
      parent.foreach { p =>
        jobSpan(j.jobId) = add(p, s"job ${j.jobId}", "job", j.start, j.end)
        j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
      }
    }
    val stageRecs = stages.values.asScala.toSeq.sortBy(_.start).flatMap { s =>
      stageJob.get(s.stageId).flatMap(jobSpan.get).map { js =>
        val id = add(js, s"stage ${s.stageId}.${s.attempt}", "stage", s.start, s.end)
        val peak = Option(taskPeak.get((s.stageId, s.attempt))).map(_.get).getOrElse(0L)
        (phaseOf(id), s, peak)
      }
    }
    Resolved(all.toVector, phases.toVector, stageRecs)
  }
}

object Trace {
  val GroupPrefix = "graftbench:"
  /** Local properties Spark sets on every micro-batch job. */
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        start: Double, end: Double) {
    def dur: Double = end - start
  }
  final case class Phase(id: Int, name: String, group: String)
  final case class JobRec(jobId: Int, start: Double, end: Double, group: String,
                          queryId: String, batchId: String, stageIds: Seq[Int])
  final case class StageRec(stageId: Int, attempt: Int, start: Double, end: Double,
                            tasks: Int, runS: Double, cpuS: Double, gcS: Double,
                            shuffleWrite: Long, shuffleRead: Long, spill: Long,
                            input: Long, output: Long)
  final case class BatchRec(queryId: String, batchId: Long, start: Double,
                            durations: Map[String, Long], rows: Long)

  /** Spans, phases, and each stage with its phase id and peak task memory. */
  final case class Resolved(spans: Vector[Span], phases: Vector[Phase],
                            stages: Seq[(Int, StageRec, Long)]) {

    /** Length of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
    def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      var total = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
          if (curS.isNaN || s > curE) {
            if (!curS.isNaN) total += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      if (!curS.isNaN) total += curE - curS
      total
    }

    /** Self time per span kind: each span minus the union of its children. */
    def selfSeconds: Map[String, Double] = {
      val kids = spans.groupBy(_.parent)
      spans.filter(!_.end.isNaN).groupBy(_.kind).map { case (kind, ss) =>
        kind -> ss.map { s =>
          val c = kids.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end))
          (s.dur - union(c, s.start, s.end)) / 1e3
        }.sum
      }
    }

    /** Spark engine metrics over the phases of one group. */
    def engine(group: String): Map[String, Double] = {
      val ids = phases.filter(_.group == group).map(_.id).toSet
      val st = stages.filter { case (p, _, _) => ids(p) }
      val wall = spans.filter(s => ids(s.id)).map(s => s.dur).sum
      val busy = ids.toSeq.map { id =>
        val s = spans(id)
        union(st.filter(_._1 == id).map(x => (x._2.start, x._2.end)), s.start, s.end)
      }.sum
      // re-execution signal: a stage matching an earlier stage of the same
      // phase on task count and bytes read, with CPU within 20%
      val repeat = st.groupBy(_._1).values.map { ps =>
        val seen = mutable.ArrayBuffer.empty[StageRec]
        ps.map(_._2).map { s =>
          val hit = seen.exists(t => t.tasks == s.tasks && t.input == s.input &&
            t.shuffleRead == s.shuffleRead &&
            math.abs(t.cpuS - s.cpuS) <= 0.2 * math.max(t.cpuS, s.cpuS))
          seen += s
          if (hit) s.cpuS else 0.0
        }.sum
      }.sum
      val recs = st.map(_._2)
      Map(
        "stages" -> recs.size.toDouble,
        "tasks" -> recs.map(_.tasks).sum.toDouble,
        "executor_run_s" -> recs.map(_.runS).sum,
        "executor_cpu_s" -> recs.map(_.cpuS).sum,
        "gc_s" -> recs.map(_.gcS).sum,
        "shuffle_write_bytes" -> recs.map(_.shuffleWrite).sum.toDouble,
        "shuffle_read_bytes" -> recs.map(_.shuffleRead).sum.toDouble,
        "spill_bytes" -> recs.map(_.spill).sum.toDouble,
        "input_bytes" -> recs.map(_.input).sum.toDouble,
        "output_bytes" -> recs.map(_.output).sum.toDouble,
        "peak_task_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_._3).max / 1048576.0),
        "driver_s" -> (wall - busy) / 1e3,
        "repeat_stage_cpu_s" -> repeat)
    }

    def spansJson: String = spans.filter(!_.end.isNaN).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
