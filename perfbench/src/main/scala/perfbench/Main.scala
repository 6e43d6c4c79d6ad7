package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark session: a fresh JVM and Spark session that sets up, runs
  * an untimed warm-up pass, then a fixed number of timed passes, and writes
  * what it measured as JSON. With --trace 1 untraced passes alternate with
  * passes that run with the span listeners registered.
  *
  * Arguments: --workload W --data DIR --work DIR --out FILE
  *   --passes N --cores N --trace 0|1 [--only a,b]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val available = Runtime.getRuntime.availableProcessors
    require(cores == available,
      s"local[$cores] requested but the JVM sees $available cores")
    val work = opt("work")
    val trace = opt("trace") == "1"
    val passes = opt("passes").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val rec = new Recorder(sc)
    val meter = new TransportMeter(rec)
    val w = Workloads(opt("workload"), spark, opt("data"), meter, opt.get("only").map(_.split(",").toSeq))

    val warm = w.pass(rec, s"$work/out/warmup")
    val firstTimedMs = System.currentTimeMillis()
    // traced runs alternate untraced and traced passes, starting and ending
    // untraced, so both kinds see the same warmth on average
    val sparkTrace = new SparkTrace
    val streamTrace = new StreamTrace
    val n = if (trace) 2 * math.max(1, passes / 2) + 1 else passes
    val all = (1 to n).map { i =>
      val traced = trace && i % 2 == 0
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sparkTrace.reset(); streamTrace.reset()
        sc.addSparkListener(sparkTrace)
        spark.streams.addListener(streamTrace)
      }
      val p = w.pass(rec, s"$work/out/pass$i")
      val layers = if (!traced) None else {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(sparkTrace)
        spark.streams.removeListener(streamTrace)
        val jobless = Layers.joblessTasks(p, sparkTrace)
        if (jobless.nonEmpty) {
          p.failed += jobless.size
          System.err.println("[perfbench] task spans without a Spark job: " +
            jobless.map(_.item).mkString(", "))
        }
        Some(Layers.compute(p, sparkTrace, streamTrace, cores, Workloads.families))
      }
      p -> layers
    }
    val plain = all.collect { case (p, None) => p }
    val traced = all.collect { case (p, Some(l)) => p -> l }
    val rssMb = peakRssMb()
    val check = w.check(rec, s"$work/check")

    val counted = Seq(warm) ++ all.map(_._1) ++ check.toSeq
    Json.write(opt("out"), Map(
      "first_timed_ms" -> firstTimedMs,
      "warmup_s" -> warm.wallS,
      "passes" -> plain.map(passJson),
      "traced" -> traced.map { case (p, layers) => passJson(p) ++ Map("layers" -> layers) },
      "check" -> check.map(passJson).getOrElse(Map.empty),
      "peak_rss_mb" -> rssMb,
      "attempted" -> counted.map(_.attempted).sum,
      "failed" -> counted.map(_.failed).sum,
      "host" -> Map(
        "cores" -> cores,
        "master" -> sc.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"))))
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "items" -> p.items.map(_._2).toSeq,
    "item_names" -> p.items.map(_._1).toSeq,
    "attempted" -> p.attempted, "failed" -> p.failed,
    "tasks" -> p.tasks, "solved" -> p.solved, "test_rows" -> p.testRows,
    "synth_calls" -> p.synthCalls)

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result files (maps, sequences, numbers,
  * strings). */
object Json {
  def render(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case b: Boolean => b.toString
    case null => "null"
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), render(v))
  }
}
