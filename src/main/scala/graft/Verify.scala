package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.io.Sinks.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver always passes two args (full dump); the filter is a local
    // iteration aid — check_oracle.py only compares dirs that exist.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(",").map(_.trim).toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Clean the output dir FIRST: a stale per-query directory from a
    // previous run would otherwise be validated as if current — a broken
    // query could false-PASS against yesterday's output.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    var failures = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures ::= name
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // bound block-manager growth across the whole sweep (same
      // rationale as Bench: finished queries' checkpoint blocks are dead)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.sorted.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
