package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[graft.queries.QuerySpec]] in the
  * family file under `graft/queries/` that matches what it exercises
  * (`DedupQueries`, `EventsQueries`, ...): its name, its Spark builder
  * over the harness corpus and, beside it, the DuckDB SQL that must return
  * the same rows. A streaming twin whose oracle is its batch sibling's SQL
  * refers to that spec's `oracleSql` value. [[queries]] and [[oracleSql]]
  * are views derived from the one list. Determinism rules (SURVEY §5.3):
  * no rand, md5-based hashing, decimal-exact money sums, integer-quantized
  * vector math, epoch-second timestamps, explicit ORDER BY.
  */
object SparkEntry {

  /** Map builder that REFUSES duplicate keys. A `Map(...)` literal silently
    * keeps the LAST binding on key collision — which really happened: a
    * reused "percentiles_lineitem" key shadowed the interpolated-percentile
    * query out of the oracle gate for part of a round, and the gate cannot
    * see a query that vanished from the map. Collisions fail loudly at
    * first registry access instead (every Verify/Bench/spec run hits this).
    */
  private[graft] def distinctKeys[V](what: String, pairs: Seq[(String, V)])
      : Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate $what keys (silent shadowing): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchQueries.pricingSummary(spark, "/root/testdata/sf0.001")

  private lazy val registry: Map[String, QuerySpec] =
    distinctKeys("queries", Seq(
      TpchQueries.specs, CoreQueries.specs, MetricsQueries.specs,
      DedupQueries.specs, CorpusQueries.specs, TokenizerQueries.specs,
      SimilarityQueries.specs, EventsQueries.specs, WranglerQueries.specs,
      MultimodalQueries.specs, ClassifierQueries.specs, SketchQueries.specs,
      ProfileQueries.specs, GraphQueries.specs, PreferenceQueries.specs,
      ExperimentQueries.specs, EvalQueries.specs
    ).flatten.map(q => q.name -> q))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracleSql }
}
