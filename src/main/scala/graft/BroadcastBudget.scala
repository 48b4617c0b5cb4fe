package graft

import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's own broadcast rule, kept in one place: a relation fits when its
  * rows × (8-byte row header + Σ fixed slot sizes) stay under
  * `spark.sql.autoBroadcastJoinThreshold`; a threshold ≤ 0 turns the rule
  * off and nothing fits. */
private[graft] object BroadcastBudget {

  /** How many rows of `schema` fit the budget; -1 when broadcasting is off. */
  def rows(schema: StructType): Long = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    if (threshold <= 0) -1L
    else threshold / (8L + schema.map(_.dataType.defaultSize).sum)
  }

  def fits(rowCount: Long, schema: StructType): Boolean = rowCount <= rows(schema)
}
