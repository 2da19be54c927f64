package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wide↔long reshaping (pandas `pivot_table` / `melt` — EDA-adjacent
  * surface the reference's charts imply but never expose as an operator).
  *
  * Scale notes: pivot with an EXPLICIT value list compiles to one hash
  * aggregate with `values.size` conditional aggregates per row group — one
  * shuffle keyed by the row key, no second pass. Omitting the value list
  * makes Spark run a distinct scan first AND leaves the output schema
  * data-dependent — always pass it in production (and it is required here).
  * Melt is a zero-shuffle projection (`stack`).
  */
object Reshape {

  /** Pivot counts: one row per `rowKey`, one column per entry of `values`
    * (the distinct `colKey` values, fixed by the caller), cells = row
    * count for that combination. Absent combinations are 0, matching the
    * conditional-aggregation SQL formulation.
    */
  def pivotCounts(df: DataFrame, rowKey: String, colKey: String,
      values: Seq[String]): DataFrame =
    df.groupBy(col(rowKey)).pivot(colKey, values).agg(count(lit(1)))
      .na.fill(0, values)

  /** Melt (pandas `melt`): keep `idCols`, fold each of `valueCols` into
    * (variable, value) long-form rows. Values are cast to double so
    * heterogeneous numeric columns share one value column.
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val stackExpr = s"stack(${valueCols.size}, " +
      valueCols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") as (variable, value)"
    df.select(idCols.map(col) :+ expr(stackExpr): _*)
  }
}
