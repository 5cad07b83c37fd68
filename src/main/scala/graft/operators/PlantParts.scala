package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plant-parts grain family (SURVEY §2.5, §2.11): one fact rolled up
  * at several entity grains, and the true-granularity label across them.
  * Reference: the plant-parts aggregation and `TrueGranLabeler`
  * (`/root/reference/src/pudl/analysis/plant_parts_eia.py:594-1182`).
  */
object PlantParts {

  /** Every grain's aggregation in ONE pass: each row explodes once per
    * grain into (grain, priority, part_key) and one aggregation groups by
    * all three. Groups are disjoint across grains, so the rows equal the
    * union of one aggregation per grain, but the input is planned and
    * shuffled once, not once per grain. `grains` is (label, key), finest
    * first (priority 1, 2, ...); `part_key` is `key.cast("string")`, so
    * null keys form their own group. Output: (grain, priority, part_key)
    * + `aggs`. */
  def grainRollup(df: DataFrame, grains: Seq[(String, Column)],
                  aggs: Seq[Column]): DataFrame = {
    val parts = grains.zipWithIndex.map { case ((label, key), i) =>
      struct(lit(label).as("grain"), lit(i + 1).as("priority"),
        key.cast("string").as("part_key"))
    }
    df.withColumn("__g", explode(array(parts: _*)))
      .groupBy(col("__g.grain").as("grain"),
        col("__g.priority").as("priority"),
        col("__g.part_key").as("part_key"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** `TrueGranLabeler`: adds `true_gran`, set on the lowest (priority,
    * part_key) row of each aggregate `signature`, so a part is the true
    * grain when no finer part has the identical aggregate. */
  def trueGranularity(parts: DataFrame, signature: Seq[String]): DataFrame =
    parts.withColumn("true_gran", row_number().over(
      Window.partitionBy(signature.map(col): _*)
        .orderBy(col("priority").asc, col("part_key").asc)) === 1)
}
