package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ownership scaling / proportional allocation (SURVEY §2.3, §2.5).
  *
  * These are the reference's signature analytics: broadcast a coarse total
  * onto a finer grain by a fraction column, preserving conservation
  * (sum of allocated == total).
  */
object Allocation {

  /** Join data × ownership (1:m), default missing fractions to 1 (sole
    * owner), and emit two record sets: "owned" rows scaled by the fraction
    * and "total" rows with the unscaled values. Reference:
    * `scale_by_ownership` (`/root/reference/src/pudl/helpers.py:2006-2104`).
    *
    * `ownership` must carry `keys` + `fracCol`. Output gains
    * `ownership_record_type` ∈ {"owned", "total"}.
    */
  def scaleByOwnership(data: DataFrame, ownership: DataFrame, keys: Seq[String],
                       fracCol: String, dataCols: Seq[String]): DataFrame = {
    val joined = data.join(ownership, keys, "left")
      .withColumn(fracCol, coalesce(col(fracCol), lit(1.0)))
    // Both record sets come out of ONE pass via explode over a two-element
    // struct array — a unionByName of two branches would execute the join
    // (and everything upstream) twice, which at 100 TB doubles the scan.
    def branch(t: String, v: String => org.apache.spark.sql.Column) =
      struct(lit(t).as("ownership_record_type") +:
        dataCols.map(c => v(c).as(c)): _*)
    val outCols = joined.columns.map(c =>
      if (dataCols.contains(c)) col(s"__rec.$c").as(c) else col(c))
    joined
      .withColumn("__rec", explode(array(
        branch("owned", c => col(c) * col(fracCol)),
        branch("total", c => col(c)))))
      .select(outCols :+
        col("__rec.ownership_record_type").as("ownership_record_type"): _*)
  }

  /** Quantity-share ownership, ready for [[scaleByOwnership]]: per (order,
    * supplier) the summed `l_quantity` and its fraction of the order's
    * total. One `hash(l_orderkey)` exchange serves the aggregation and the
    * fraction window; no map-side partial aggregate, which would not
    * shrink a near-distinct (order, supplier) shuffle. Output:
    * (o_orderkey, l_suppkey, qty, fraction_owned). */
  def quantityShares(lineitem: DataFrame): DataFrame =
    lineitem
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .withColumn("fraction_owned", col("qty") / sum(col("qty")).over(
        Window.partitionBy(col("o_orderkey"))))

  /** Allocate a coarse-grain total across fine-grain rows proportionally to
    * a weight column, with equal split when the group's weights are all
    * zero/null. Reference: the allocation core of `allocate_gen_fuel`
    * (`/root/reference/src/pudl/analysis/allocate_gen_fuel.py:664-790` and the
    * fraction logic at `:900-1100`): conservation holds by construction.
    */
  def allocateProportionally(totals: DataFrame, detail: DataFrame,
                             keys: Seq[String], totalCol: String, weightCol: String,
                             out: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val withFrac = detail
      .withColumn("__wsum", sum(when(col(weightCol).isNotNull, col(weightCol))
        .otherwise(0.0)).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__frac",
        when(col("__wsum") =!= 0.0, coalesce(col(weightCol), lit(0.0)) / col("__wsum"))
          .otherwise(lit(1.0) / col("__n")))
    withFrac.join(totals, keys, "left")
      .withColumn(out, col("__frac") * col(totalCol))
      .drop("__wsum", "__n", "__frac", totalCol)
  }
}
