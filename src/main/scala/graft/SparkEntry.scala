package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CoreQueries, CorpusQueries, DataQueries, EventQueries, ExtQueries, InferQueries, Q, ScaleQueries, StatQueries, TrainQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in `graft.queries.*` modules, each colocated with its
  * DuckDB oracle SQL; this object only aggregates them.
  */
object SparkEntry {

  /** Every declared query, in stable order. */
  def allQueries: Seq[Q] =
    CoreQueries.all ++ DataQueries.all ++ EventQueries.all ++ CorpusQueries.all ++
      TrainQueries.all ++ ScaleQueries.all ++ StatQueries.all ++ ExtQueries.all ++
      InferQueries.all ++ AnalyticsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.expressions.GraftExtensions.register(spark)
    CoreQueries.q09.fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Every fn
    * installs the engine on the session first (a no-op on a session
    * from `GraftSession.create`), so the map works on any
    * caller-provided session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        graft.expressions.GraftExtensions.register(s)
        q.fn(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (driver
    * falls back to a rows-only check).
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** A query's short `qNN` name: everything before the first `_`. The
    * record and ledger key; unique across `queries` (BaselineLedgerSpec).
    */
  def shortName(name: String): String = name.indexOf('_') match {
    case -1 => name
    case i => name.substring(0, i)
  }

  /** The query selector Bench (`SPARK_GRAFT_ONLY_Q`), Probe and Verify
    * share: `name` is picked when a selector entry is its full name or
    * its exact qNN. Not a bare prefix — `q3` would otherwise also pick
    * q30–q39.
    */
  def selects(selector: Seq[String])(name: String): Boolean =
    selector.exists(p => p == name || p == shortName(name))

  /** A comma-separated selector as Bench (`SPARK_GRAFT_ONLY_Q`), Probe and
    * Verify take it, checked against the registry: an entry that picks
    * no query (`q1` — the names are zero-padded `q01`) is an error that
    * names it, never a silently smaller run.
    */
  def selector(spec: String): String => Boolean = {
    val entries = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = allQueries.map(_.name)
    val unmatched = entries.filterNot(e => names.exists(selects(Seq(e))))
    if (unmatched.nonEmpty)
      throw new IllegalArgumentException(
        s"query selector entries match no query: ${unmatched.mkString(", ")}")
    selects(entries)
  }
}
