package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query exposed through SparkEntry: the Spark implementation plus, when the
  * semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle statement.
  * Column names/aliases MUST match between the two (the driver sorts columns
  * by name before hashing); both sides carry a total ORDER BY so row order is
  * deterministic in either engine.
  *
  * Cache contract: `fn` returns a lazy frame. The caches and checkpoints
  * its operators make are tracked by the caller's open
  * [[graft.operators.Scope]], so a caller builds AND consumes the frame
  * inside one `Scope { ... }`, which releases all of them when it closes
  * (Verify, Bench, BenchScale and Plans do). A caller that opens no Scope
  * owns whatever the query left persisted. */
final case class NamedQuery(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object NamedQuery {
  def sql(fn: (SparkSession, String) => DataFrame, oracle: String): NamedQuery =
    NamedQuery(fn, Some(oracle))
  def rowsOnly(fn: (SparkSession, String) => DataFrame): NamedQuery =
    NamedQuery(fn, None)
}
