package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** The operator library's names for the engine's incremental view
  * maintenance, [[graft.merge.Materialize]], which holds the contract.
  */
object Materialize {

  def groupAgg(state: DataFrame, groupCol: String, amountCol: String): DataFrame =
    graft.merge.Materialize.groupAgg(state, groupCol, amountCol)

  def maintainAgg(aggPrev: DataFrame, base: DataFrame, delta: DataFrame,
                  isDelete: Column, keyCol: String = "id",
                  versionCol: String = "update_at", seqCol: String = "event_id",
                  groupCol: String = "account",
                  amountCol: String = "amount"): DataFrame =
    graft.merge.Materialize.maintainAgg(aggPrev, base, delta, isDelete, keyCol,
      versionCol, seqCol, groupCol, amountCol)
}
