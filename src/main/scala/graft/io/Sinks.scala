package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Output sinks (SURVEY §2.1 S6-S8).
  *
  * S6/S7 are driver-side JSON dumps (metrics and learned-function source are
  * tiny by construction); S8 is the parquet predictions sink — which the
  * reference builds a path for but never writes (`run_wrangler.py:242-254`);
  * here it actually writes.
  */
object Sinks {

  /** `s` as a quoted JSON string: quote, backslash and ALL control chars
    * (< 0x20) escaped — one raw tab or CR would make the whole file
    * unparseable. The one JSON string writer of the repo (metrics,
    * learned programs, oracle SQL dumps, transport request bodies).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** S6 — task-metrics JSON (`metrics.json`, `run_wrangler.py:267-268`).
    * Non-finite values (a -Inf accuracy from the null-program fallback
    * could reach here) serialize as JSON null — bare NaN/Infinity tokens
    * are invalid JSON and would corrupt the whole file.
    */
  def writeMetricsJson(metrics: Map[String, Double], path: String): Unit = {
    val body = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val jv = if (java.lang.Double.isFinite(v)) v.toString else "null"
        s"${jsonString(k)}: $jv"
      }
      .mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }

  /** S7 — learned-programs JSON (`learned_funcs.json`,
    * `run_wrangler.py:270-271`): program descriptions, one per task.
    */
  def writeLearnedProgramsJson(programs: Seq[String], path: String): Unit = {
    val body = programs.map(jsonString).mkString("[", ", ", "]")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }

  /** S8 — predictions parquet (the reference's vestigial feather path,
    * actually written here).
    */
  def writePredictions(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
