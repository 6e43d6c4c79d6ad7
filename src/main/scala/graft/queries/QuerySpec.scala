package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build` runs it in Spark over a corpus directory,
  * `oracleSql` is the DuckDB SQL over the same parquet tables that must
  * return the same rows, compared after sorting (`tools/check_oracle.py`).
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
