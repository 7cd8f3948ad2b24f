package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * The full operator inventory of SURVEY.md §2 (frolyk message-log surface,
  * relational/window layer, LLM-pipeline operators), each entry a
  * declarative Spark query plus — where batch-SQL-expressible — a DuckDB
  * oracle over the same parquet tables.
  */
object SparkEntry {

  /** Every operator of the inventory, in SURVEY.md §2 order. */
  val all: Seq[QDef] =
    FrolykOps.defs ++ RelationalOps.defs ++ AnalyticOps.defs ++
      WindowOps.defs ++ TemporalOps.defs ++ GraphOps.defs ++
      DedupOps.defs ++ TextOps.defs ++ ClassifierOps.defs ++
      TokenizerOps.defs ++
      UnigramOps.defs ++
      PipelineOps.defs ++ SimilarityOps.defs ++ PqOps.defs ++
      MultimodalOps.defs

  /** Flagship query on sf=0.001 (the reference's motivating example,
    * /root/reference/examples/introduction.ts:12-27: tumbling-window
    * counts); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WindowOps.tumbling(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check; ScalaTest covers them). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
