package graft
package lanes

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One lane: a Spark-first build over a fixture directory and, when the
  * lane is SQL-expressible, ANSI SQL that DuckDB runs over the same
  * parquet. The oracle is a thunk, so building a lane's DataFrame never
  * builds oracle text. */
final case class Lane(name: String, build: (SparkSession, String) => DataFrame,
                      oracle: Option[() => String])

/** A family file. Each `lane(name) { (s, dir) => ... }` in the object's
  * body declares one lane, in order; `.oracle(sql)` attaches its oracle.
  * [[graft.SparkEntry]] collects every family's lanes. */
abstract class LaneFamily {
  private val declared = collection.mutable.ArrayBuffer.empty[Lane]

  final def lanes: Seq[Lane] = declared.toSeq

  protected final class Decl private[LaneFamily] (i: Int) {
    def build: (SparkSession, String) => DataFrame = declared(i).build

    /** Attaches the lane's DuckDB oracle, built only when it is read. */
    def oracle(sql: => String): Decl = {
      declared(i) = declared(i).copy(oracle = Some(() => sql))
      this
    }
  }

  protected final def lane(name: String)(build: (SparkSession, String) => DataFrame): Decl = {
    declared += Lane(name, build, None)
    new Decl(declared.length - 1)
  }

  protected final def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
}
