package graft

import graft.contracts._
import graft.contracts.Shared.events
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query surface Verify and Bench run: the flagship `entry` plus every
  * contract query, keyed by name. Each query and its DuckDB oracle are one
  * [[graft.contracts.Contract]] in a per-family file; `queries` and
  * `oracleSql` are views over that list.
  */
object SparkEntry {

  /** Flagship: approximate + exact distinct users per event type on sf0.001 —
    * the reference's EP2 + EP3 dataflow (HLL/examples.py:56-83) as one
    * Catalyst plan. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = events(spark, "/root/testdata/sf0.001")
    ev.groupBy(col("event_type"))
      .agg(
        GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  val contracts: Seq[Contract] =
    HllContracts.all ++ QContracts.all ++ DdContracts.all ++
      SimContracts.all ++ TxContracts.all ++ MmContracts.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    contracts.map(c => c.name -> c.build).toMap

  val oracleSql: Map[String, String] =
    contracts.map(c => c.name -> c.oracleSql).toMap
}
