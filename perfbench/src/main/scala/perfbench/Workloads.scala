package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{TaskKind, WranglerConfig}
import graft.tasks.{WranglerCli, WranglerMain}
import graft.transform.{LocalTransport, TransformProgram, TransportSynthesizer}

/** What one pass over a workload's items did. */
final class Pass(val startNs: Long, val startMs: Long) {
  var endNs, endMs = 0L
  var spans: Seq[Span] = Nil
  val items = scala.collection.mutable.ArrayBuffer[(String, Double)]()   // latency, s
  var attempted, failed = 0
  var tasks, solved = 0
  var testRows = 0.0
  var synthCalls, parseRetries = 0
  var synthNanos = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

trait Workload {
  def pass(rec: Recorder, out: String): Pass
  /** Untimed pass that leaves every item's output under `out`, for
    * workloads whose timed passes leave no output to check. The output is
    * compared with the frozen oracle in perfbench/oracle.py. */
  def check(rec: Recorder, out: String): Option[Pass]

  protected def timed(rec: Recorder)(body: Pass => Unit): Pass = {
    rec.spans.clear()
    val p = new Pass(System.nanoTime(), System.currentTimeMillis())
    body(p)
    rec.end()
    p.endNs = System.nanoTime(); p.endMs = System.currentTimeMillis()
    p.spans = rec.spans.toList
    p
  }

  protected def fail(p: Pass, what: String, e: Throwable, n: Int = 1): Unit = {
    p.failed += n
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  protected def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}

/** The wrangling CLI path over generated datasets: readTasks, applyCaps and
  * runAllSplits per dataset, with CLI defaults. Items are tasks. */
final class Wrangle(spark: SparkSession, dataDir: String, datasets: Seq[String],
    meter: TransportMeter) extends Workload {

  private val canonical = StructType(Seq(
    StructField("text", StringType), StructField("label_str", StringType)))

  def pass(rec: Recorder, out: String): Pass = timed(rec) { p =>
    meter.reset()
    for (ds <- datasets) {
      // the CLI's own argument defaults; only the paths are set
      val a = WranglerCli.parse(Array(
        "--data_dir", s"$dataDir/$ds", "--output_dir", s"$out/$ds"))
      val cfg = WranglerConfig(sepTok = a.sepTok, nanTok = a.nanTok, k = a.k,
        d = a.d, seed = a.seed, numTrials = a.numTrials, numIter = a.numIter)
      var names = Seq.empty[String]
      var started = 0
      try {
        val splits = rec.span("io", ds)(WranglerCli.readTasks(spark, a))
        val capped = rec.span("sample", ds)(splits.map(WranglerCli.applyCaps(_, a)))
        names = capped.map(_.name)
        // runAllSplits asks for each task's synthesizer right before it
        // runs the task, so that request opens the task's span. A trailing
        // task with an empty test split is skipped by the pipeline and
        // contributes no output; its request opens the roll-up span. The
        // span check below fails the dataset when that order does not hold.
        val empty = spark.createDataFrame(java.util.List.of[Row](), canonical)
        val end = WranglerMain.SplitInput(s"$ds.end", capped.head.kind, empty, empty, None)
        val opened = scala.collection.mutable.ArrayBuffer[Int]()
        val firstCall = meter.spanIds.size
        val synthFor = (kind: TaskKind) => {
          if (started < names.size) rec.begin("tasks", names(started))
          else rec.begin("finish", ds)
          opened += rec.openId
          started += 1
          new TransportSynthesizer(meter.wrap(LocalTransport.transport), kind)
        }
        val (results, _) = WranglerMain.runAllSplits(
          spark, capped :+ end, a.outputDir, cfg, synthFor)
        rec.end()
        p.tasks += results.size
        p.solved += results.count(_.program != TransformProgram.NullProgram)
        p.testRows += results.map(_.metrics("total")).sum
        // every task span must hold its task's synthesis call(s), and no
        // call may fall outside the task spans; otherwise the spans do not
        // time the tasks and the pass's task latencies are void
        val calls = meter.spanIds.drop(firstCall).toSet
        val taskIds = opened.take(names.size).toSet
        if (opened.size != names.size + 1 || taskIds.size != names.size ||
            !taskIds.subsetOf(calls) || !calls.subsetOf(taskIds))
          fail(p, s"dataset $ds span check", new IllegalStateException(
            s"${opened.size} spans opened for ${names.size} tasks and the " +
            s"roll-up; synthesis calls fell in spans ${calls.toSeq.sorted}, " +
            s"task spans are ${taskIds.toSeq.sorted}"), names.size)
      } catch {
        case e: Throwable =>
          rec.end()
          fail(p, s"dataset $ds", e, math.max(1, names.size - math.max(0, started - 1)))
      }
      p.attempted += math.max(1, names.size)
      rec.span("cleanup", ds)(unpersistAll(spark))
    }
    p.items ++= rec.spans.filter(_.layer == "tasks").map(s => s.item -> s.seconds)
    p.synthCalls = meter.calls
    p.parseRetries = meter.parseFailures
    p.synthNanos = meter.nanos
  }

  /** Every pass writes metrics.json and learned_funcs.json per dataset;
    * those are checked directly. */
  def check(rec: Recorder, out: String): Option[Pass] = None
}

/** A frozen sample of operator queries: the build call, then the noop
  * write as the action, as graft.Bench times them. Items are queries. */
final class Ops(spark: SparkSession, dir: String, sample: Seq[(String, String)])
    extends Workload {

  private val queries = graft.SparkEntry.queries

  def pass(rec: Recorder, out: String): Pass = timed(rec) { p =>
    for ((q, family) <- sample) {
      p.attempted += 1
      try {
        val df = rec.span("entry.build", q, family)(queries(q)(spark, dir))
        rec.span("entry.action", q, family)(
          df.write.format("noop").mode("overwrite").save())
        p.items += q -> rec.spans.takeRight(2).map(_.seconds).sum
      } catch { case e: Throwable => rec.end(); fail(p, s"query $q", e) }
      // free the finished query's checkpoint blocks, as graft.Bench does
      rec.span("cleanup", q)(unpersistAll(spark))
    }
  }

  def check(rec: Recorder, out: String): Option[Pass] = Some(timed(rec) { p =>
    for ((q, _) <- sample) {
      p.attempted += 1
      try {
        queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      } catch { case e: Throwable => fail(p, s"query $q", e) }
      unpersistAll(spark)
    }
  })
}

object Workloads {
  /** The frozen operator sample: query -> the program module it
    * exercises. Single-pass plans (flagship scan+agg, MinHash LSH), a
    * pipeline of ~28 eager jobs (error detection), and streaming twins
    * drained through Streams.runToMemory (session windows with state, and a
    * stream-static anti-join dedup). */
  val opsSample: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "SparkEntry",
    "minhash_pairs_docs" -> "scale.Dedup",
    "error_detection_end_to_end_part" -> "tasks.WranglerMain",
    "streaming_session_events" -> "scale.Events",
    "streaming_corpus_dedup_docs" -> "scale.TextAnalysis")

  /** Modules with a per-family roll-up, reported on every workload. */
  val families: Seq[String] = opsSample.map(_._2).distinct.sorted

  def apply(name: String, spark: SparkSession, data: String,
      meter: TransportMeter, only: Option[Seq[String]]): Workload = {
    name match {
      case "ops_sample" =>
        new Ops(spark, data, only.fold(opsSample)(o => opsSample.filter(s => o.contains(s._1))))
      case "wrangle_paper" =>
        // one dataset directory per task layout, in name order
        val all = new java.io.File(data).listFiles().filter(_.isDirectory)
          .map(_.getName).sorted.toSeq
        new Wrangle(spark, data, only.getOrElse(all), meter)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
