package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator of the engine's inventory (SURVEY.md §2).
  *
  * @param name   stable query id (`SparkEntry.queries` key)
  * @param build  Spark-side implementation: (session, sfDir) => result
  * @param oracle equivalent ANSI SQL for DuckDB over the same parquet
  *               tables, or None when the operator's semantics are not
  *               batch-SQL-expressible (driver then records a weaker
  *               rows-only check; a ScalaTest spec covers it instead).
  * @param managed `build` plus the release of the blocks it pinned
  *               ([[QDef.scoped]]) — a consumer that cannot open a pin
  *               scope itself consumes the result, then calls the
  *               release. None for queries that pin nothing beyond
  *               their own execution.
  */
final case class QDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    managed: Option[(SparkSession, String) => (DataFrame, () => Unit)] =
      None)

object QDef {

  /** The managed rendering of `build`: its result, built inside a
    * [[graft.operators.Pins.scoped]] scope, plus that scope as the
    * release. */
  def scoped(build: (SparkSession, String) => DataFrame)
      : Option[(SparkSession, String) => (DataFrame, () => Unit)] =
    Some((s, d) => graft.operators.Pins.scoped(build(s, d)))
}
