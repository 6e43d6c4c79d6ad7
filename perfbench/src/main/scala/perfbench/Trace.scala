package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One call the benchmark makes into the program, timed from outside.
  * `layer` names the program layer the call enters; `family` is the
  * program module an operator query belongs to (empty elsewhere). */
final class Span(val id: Int, val layer: String, val item: String,
    val family: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records the flat sequence of spans of a pass. While a span is open its
  * id rides on the Spark local property [[Recorder.Key]], so every job
  * started from this thread (and from the threads Spark forks from it:
  * broadcast exchanges, streaming micro-batches) carries it. */
final class Recorder(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: Option[Span] = None
  private var nextId = 0

  /** Id of the open span, 0 when none is open. */
  def openId: Int = open.fold(0)(_.id)

  def begin(layer: String, item: String, family: String = ""): Unit = {
    end()
    nextId += 1
    val s = new Span(nextId, layer, item, family)
    spans += s
    open = Some(s)
    sc.setLocalProperty(Recorder.Key, s.id.toString)
  }

  def end(): Unit = {
    open.foreach { s =>
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Recorder.Key, null)
    }
    open = None
  }

  def span[T](layer: String, item: String, family: String = "")(body: => T): T = {
    begin(layer, item, family)
    try body finally end()
  }
}

object Recorder { val Key = "perfbench.span" }

/** Per-span Spark counters, attributed through the span local property.
  * Jobs without the property are kept under the empty key. */
final class SparkTrace extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0
    var taskMs, gcMs, inputB, shuffleReadB, shuffleWriteB, spillB = 0L
    var peakExecMemB = 0L
  }
  val bySpan = mutable.Map[String, Acc]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()

  private def acc(span: String) = bySpan.getOrElseUpdate(span, new Acc)

  def reset(): Unit = synchronized { bySpan.clear(); jobIntervals.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Key)))
      .getOrElse("")
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobIntervals += ((t, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputB += m.inputMetrics.bytesRead
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMemB = math.max(a.peakExecMemB, m.peakExecutionMemory)
    }
  }
}

/** Streaming progress of every micro-batch; attributed to spans by the
  * batch's trigger time. */
final class StreamTrace extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  def reset(): Unit = synchronized(progress.clear())
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Counts and times transport calls of the synthesizers the benchmark
  * hands to the pipeline, and records the span each call fell in. */
final class TransportMeter(rec: Recorder) {
  var calls = 0
  var parseFailures = 0
  var nanos = 0L
  val spanIds = mutable.ArrayBuffer[Int]()
  def reset(): Unit = { calls = 0; parseFailures = 0; nanos = 0L; spanIds.clear() }

  def wrap(transport: Seq[graft.transform.ChatMessage] => String)
      : Seq[graft.transform.ChatMessage] => String = { messages =>
    val t0 = System.nanoTime()
    val resp = transport(messages)
    nanos += System.nanoTime() - t0
    calls += 1
    spanIds += rec.openId
    try graft.transform.ProgramDsl.parse(resp)
    catch { case _: IllegalArgumentException => parseFailures += 1 }
    resp
  }
}

/** Per-layer metrics of one traced pass. */
object Layers {
  /** Task spans in which no Spark job ran. Every task collects its demo
    * pool with a job, so such a span did not time its task. */
  def joblessTasks(pass: Pass, spark: SparkTrace): Seq[Span] =
    pass.spans.filter(s => s.layer == "tasks" &&
      spark.bySpan.get(s.id.toString).forall(_.jobs == 0))

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var reach = from
    for ((s, e) <- intervals.sortBy(_._1)) {
      val a = math.max(s, reach); val b = math.min(e, to)
      if (b > a) { busy += b - a; reach = b }
    }
    busy
  }

  def compute(
      pass: Pass,
      spark: SparkTrace,
      streams: StreamTrace,
      cores: Int,
      families: Seq[String]): Map[String, Double] = {
    val spans = pass.spans
    val wall = pass.wallS
    def accs(p: Span => Boolean) =
      spans.filter(p).flatMap(s => spark.bySpan.get(s.id.toString))
    def jobs(p: Span => Boolean) = accs(p).map(_.jobs).sum.toDouble
    def secs(p: Span => Boolean) = spans.filter(p).map(_.seconds).sum
    val all = spark.bySpan.values.toSeq
    val mb = 1024.0 * 1024.0
    val taskS = all.map(_.taskMs).sum / 1000.0
    val synthS = pass.synthNanos / 1e9
    val build = secs(_.layer == "entry.build")
    val action = secs(_.layer == "entry.action")
    val taskSpans = (s: Span) => s.layer == "tasks"
    val nTasks = spans.count(taskSpans)
    val unattributedJobs = spark.bySpan.get("").map(_.jobs).getOrElse(0)

    // streaming: progress events fall in the span open at trigger time
    val prog = streams.progress.toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lastPerRun = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      lastPerRun.map(p => p.stateOperators.map(f).sum).sum.toDouble

    val base = Map(
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> all.map(_.failedTasks).sum.toDouble,
      "spark.job_gap_s" ->
        (wall - Layers.covered(spark.jobIntervals.toSeq, pass.startMs, pass.endMs) / 1000.0),
      "spark.task_s" -> taskS,
      "spark.core_util" -> taskS / (wall * cores),
      "spark.gc_s" -> all.map(_.gcMs).sum / 1000.0,
      "spark.input_mb" -> all.map(_.inputB).sum / mb,
      "spark.shuffle_read_mb" -> all.map(_.shuffleReadB).sum / mb,
      "spark.shuffle_write_mb" -> all.map(_.shuffleWriteB).sum / mb,
      "spark.spill_mb" -> all.map(_.spillB).sum / mb,
      "spark.peak_exec_mem_mb" ->
        (if (all.isEmpty) 0.0 else all.map(_.peakExecMemB).max / mb),
      "entry.build_s" -> build,
      "entry.action_s" -> action,
      "entry.build_share" -> (if (build + action > 0) build / (build + action) else 0.0),
      "entry.build_jobs" -> jobs(_.layer == "entry.build"),
      "entry.action_jobs" -> jobs(_.layer == "entry.action"),
      "io.read_s" -> secs(_.layer == "io"),
      "io.read_jobs" -> jobs(_.layer == "io"),
      "sample.caps_s" -> secs(_.layer == "sample"),
      "tasks.run_s" -> (secs(taskSpans) - synthS),
      "tasks.jobs" -> jobs(taskSpans),
      "tasks.jobs_per_task" -> (if (nTasks > 0) jobs(taskSpans) / nTasks else 0.0),
      "tasks.finish_s" -> secs(_.layer == "finish"),
      "tasks.test_rows_per_s" -> pass.testRows / wall,
      "transform.calls" -> pass.synthCalls.toDouble,
      "transform.calls_per_task" ->
        (if (pass.tasks > 0) pass.synthCalls.toDouble / pass.tasks else 0.0),
      "transform.synth_s" -> synthS,
      "transform.parse_retries" -> pass.parseRetries.toDouble,
      "transform.solved_share" ->
        (if (pass.tasks > 0) pass.solved.toDouble / pass.tasks else 0.0),
      "streaming.batches" -> prog.size.toDouble,
      "streaming.batch_p50_ms" -> median(prog.map(dur(_, "triggerExecution"))),
      "streaming.add_batch_s" -> prog.map(dur(_, "addBatch")).sum / 1000.0,
      "streaming.planning_s" -> prog.map(dur(_, "queryPlanning")).sum / 1000.0,
      "streaming.wal_commit_s" -> prog.map(dur(_, "walCommit")).sum / 1000.0,
      "streaming.commit_offsets_s" -> prog.map(dur(_, "commitOffsets")).sum / 1000.0,
      "streaming.state_rows" -> stateSum(_.numRowsTotal),
      "streaming.state_mb" -> stateSum(_.memoryUsedBytes) / mb,
      "streaming.input_rows" -> prog.map(_.numInputRows.toDouble).sum,
      "trace.unattributed_s" -> (wall - spans.map(_.seconds).sum),
      "trace.unattributed_jobs" -> unattributedJobs.toDouble)
    val fam = families.flatMap { f =>
      Seq(s"family.$f.wall_s" -> secs(s => s.family == f && s.layer.startsWith("entry.")),
        s"family.$f.jobs" -> jobs(_.family == f))
    }
    base ++ fam
  }
}
