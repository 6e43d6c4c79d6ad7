package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val errors = scala.collection.mutable.ArrayBuffer[String]()
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      // noop sink: forces full evaluation of every output column (a bare
      // count() would let Catalyst prune projection-only work away).
      // Failures are RECORDED, not just swallowed — a broken query returns
      // in milliseconds and would otherwise read as a bench speedup.
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        errors += name
        System.err.println(
          s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // Free this query's localCheckpoint blocks before the next query:
      // all queries share one block manager, and accumulated
      // MEMORY_AND_DISK checkpoint RDDs from earlier queries degrade
      // later ones through eviction/GC pressure — the r01/r02 driver
      // benches showed exactly the alphabetical-tail slowdown that
      // predicts. Unpersist is async (non-blocking) and the finished
      // query's frames are unreachable, so nothing re-reads the blocks.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      sec
    }

    // Warm-up: absorb JVM/classloader/codegen/parquet-footer start-up cost
    // so per-query timings reflect steady state rather than whichever query
    // happens to run first (~20 s of one-time cost otherwise lands on it).
    // Mixed shapes: scan+agg, window, broadcast join+concat, regex transform.
    val warmup = Seq("q1_full_pricing", "window_analytics_orders",
      "em_blocked_pairs", "transform_affine_lineitem")
    // fail loudly if a warm-up query is renamed/removed — run() swallows
    // per-query errors, which would silently skip warm-up and land the
    // one-time JVM/codegen cost on the first measured query
    warmup.foreach(n => require(SparkEntry.queries.contains(n),
      s"warm-up query '$n' missing from SparkEntry.queries"))
    val tw0 = System.nanoTime()
    warmup.foreach(run)
    val warmupSec = (System.nanoTime() - tw0) / 1e9

    // Deterministic name order (Map iteration order is arbitrary).
    // INTERLEAVED median-of-N passes: the full sorted list runs N times
    // end-to-end (A,B,C,…,A,B,C,… — never A,A,A,B,B,B), so a host-
    // interference band hitting one wall-clock window inflates at most one
    // sample of each affected query and the per-query MEDIAN discards it.
    // Rounds 1-3 all showed contiguous alphabetical bands at 3-34× in
    // driver captures (e.g. a plain rollup at 42.9 s vs 1.25 s local) that
    // cost a round of analysis each time; medians kill the phantom.
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    // local iteration aid (never set by the driver): bench only the named
    // queries — the tool for adjudicating a single query's movement
    // against a control commit on identical host state
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n))).sorted
    val samples = names.map(n => n ->
      scala.collection.mutable.ArrayBuffer[Double]()).toMap
    for (_ <- 1 to passes; n <- names) samples(n) += run(n)
    def median(v: Seq[Double]): Double = { val s = v.sorted; s(s.size / 2) }
    val results = names.map(n => n -> median(samples(n).toSeq))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qmins = names.map(n => s"\"" + n + "\":" + samples(n).min)
      .mkString("{", ",", "}")
    val errs = errors.distinct.sorted.map(n => s"\"$n\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // min-pass total beside the median total: a mid-suite host stall
    // inflates 2-of-3 medians of whichever queries it straddles but
    // almost never all three passes, so value_min is the stall-immune
    // code-vs-code headline (the r12 driver capture burned adjudication
    // on exactly this — 17.26 s median / 2.74 s min on untouched code)
    val totalMin = names.map(n => samples(n).min).sum
    val full = s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","passes":$passes,"warmup_sec":$warmupSec,"errors":$errs,"queries":$qs,"queries_min":$qmins,"sf":"$sfDir"}"""
    // The full per-query map (~15 KB for 419 queries) goes to a known file:
    // a consumer that captures only the TAIL of stdout truncates the long
    // line mid-JSON (both prior rounds' bench records show `parsed: null`
    // with a cut-off tail). stdout still gets the full line for humans,
    // then — LAST, so it is what a tail capture sees intact — a compact
    // summary line with the slowest queries inline and a pointer to the
    // full file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    println(full)
    val slowest = results.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"warmup_sec":$warmupSec,"n_queries":${results.size},"errors":$errs,"slowest":$slowest,"queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
