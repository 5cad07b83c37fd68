package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent digest of a frame, rendered
  * `n_rows:hash_sum|key_hash_sum|col=sum,...`:
  *  - `hash_sum`: exact decimal sum of a 64-bit hash of every whole row;
  *  - `key_hash_sum`: the same over the columns that are not top-level
  *    float or double;
  *  - one plain sum per top-level float or double column.
  * Summing (not xor-ing) keeps duplicate rows visible; the decimal sums
  * cannot overflow. Row order, partitioning and file layout do not change
  * `hash_sum`; a changed, missing or extra row does (up to hash
  * collisions). The last two parts let a float-iterative output that
  * legitimately moves in its last bits be compared with a tolerance. */
object Digest {
  private def hashSum(df: DataFrame, cols: Seq[String], name: String): Column = {
    val h = if (cols.isEmpty) lit(0L)
      else xxhash64(cols.map(c => df.col(s"`$c`")): _*)
    coalesce(sum(h.cast("decimal(20,0)")), lit(BigDecimal(0)))
      .cast("decimal(38,0)").as(name)
  }

  private def floatCols(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
    }

  /** Aggregate columns of the digest, usable in `agg` or `observe`. */
  def columns(df: DataFrame): Seq[Column] = {
    val floats = floatCols(df)
    Seq(count(lit(1)).as("n_rows"),
      hashSum(df, df.columns.toSeq, "hash_sum"),
      hashSum(df, df.columns.toSeq.filterNot(floats.contains), "key_hash_sum")) ++
      floats.zipWithIndex.map { case (c, i) =>
        sum(df.col(s"`$c`").cast("double")).as(s"float_sum_$i")
      }
  }

  /** Canonical text form of a row of [[columns]]. */
  def render(df: DataFrame, r: Row): String = {
    val sums = floatCols(df).zipWithIndex.map { case (c, i) =>
      val v = r.get(3 + i)
      s"$c=${if (v == null) "null" else java.lang.Double.toString(r.getDouble(3 + i))}"
    }
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}" +
      s"|${r.getDecimal(2).toPlainString}|${sums.mkString(",")}"
  }

  /** Render an observation's metrics (a name -> value map). */
  def render(df: DataFrame, m: Map[String, Any]): String = {
    val cols = columns(df).indices.map {
      case 0 => m("n_rows")
      case 1 => m("hash_sum")
      case 2 => m("key_hash_sum")
      case i => m(s"float_sum_${i - 3}")
    }
    render(df, Row.fromSeq(cols))
  }

  def of(df: DataFrame): String = {
    val cols = columns(df)
    render(df, df.agg(cols.head, cols.tail: _*).head())
  }
}
