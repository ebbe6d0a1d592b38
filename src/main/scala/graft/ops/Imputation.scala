package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Imputation operators (SURVEY §2.4 A1/A2, §7).
  *
  * The reference computes per-column modes with one Spark job per column
  * (silver_credit_history.py:31–37 — 9 driver round-trips). `modesOf`
  * collapses that to ONE pass: melt the columns with `stack`, count
  * (col, value) pairs, keep the per-column argmax. At 100 TB this is a
  * single map-side-combinable aggregation instead of N full scans.
  */
object Imputation {

  /** All column modes in one aggregation. Ties broken by smallest value
    * (deterministic, unlike the reference's unordered first()). Returns
    * (col_name, mode_value) with mode_value stringified. */
  def modesOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    // names are spliced into selectExpr — escape backticks/quotes so a
    // hostile column name can't break the parse (the one string-built
    // SQL surface in the engine)
    val stackExpr = cols
      .map { c =>
        val label = c.replace("\\", "\\\\").replace("'", "\\'")
        val ident = c.replace("`", "``")
        s"'$label', CAST(`$ident` AS STRING)"
      }
      .mkString(s"stack(${cols.size}, ", ", ", ") AS (col_name, value)")
    df.selectExpr(stackExpr)
      .filter(col("value").isNotNull)
      .groupBy("col_name", "value").agg(count(lit(1)).as("cnt"))
      .withColumn("rk",
        expr("row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC)"))
      .filter(col("rk") === 1)
      .select(col("col_name"), col("value").as("mode_value"))
  }

  /** Mean-impute: fill nulls with the column's global mean
    * (silver_financial.py:20–21). Two jobs by necessity (the mean is an
    * aggregate of the same scan) — at scale the aggregate is O(1) to the
    * driver, then the fill is map-side only. */
  def meanImpute(df: DataFrame, c: String): DataFrame = {
    val row = df.agg(avg(col(c))).first()
    // an all-null (or empty) column has no mean — leave it unfilled
    // rather than NPE on the null aggregate
    if (row.isNullAt(0)) df
    else df.na.fill(Map(c -> row.getDouble(0)))
  }

  /** Mode-impute: fill nulls in each column with its single-pass mode. */
  def modeImpute(df: DataFrame, cols: Seq[String]): DataFrame = {
    val modes = modesOf(df, cols).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cols.foldLeft(df) { (acc, c) =>
      val m = modes.get(c)
      m.fold(acc)(v => acc.withColumn(c,
        coalesce(col(c), lit(v).cast(acc.schema(c).dataType))))
    }
  }
}
