package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the pure function of (session, data
  * dir) that answers it, and — wherever SQL can express it — the
  * equivalent DuckDB SQL its output is hash-compared against. Each module
  * declares its queries once, as a `val queries: Seq[Query]`;
  * [[SparkEntry]] derives `queries` and `oracleSql` from those lists. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Query {
  def apply(name: String, run: (SparkSession, String) => DataFrame, oracle: String): Query =
    Query(name, run, Some(oracle))

  /** The oracle SQL `queries` registers for `name` — for a query whose
    * answer is, by construction, another query's (or builds on it). */
  def oracleOf(queries: Seq[Query], name: String): String =
    queries.find(_.name == name).flatMap(_.oracle)
      .getOrElse(throw new NoSuchElementException(s"no oracle registered for $name"))
}
