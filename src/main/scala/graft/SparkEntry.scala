package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lanes._

/** The lane registry. Every lane pairs a Spark-first build (from the graft
  * operator library) with, where the operation is SQL-expressible, ANSI SQL
  * that DuckDB runs over the same parquet. Each lane is declared once, in
  * its family's file under `graft.lanes`; `queries` and `oracleSql` are
  * views over those declarations. Aggregated doubles are rounded
  * identically on both sides so a value-hash comparison is immune to float
  * summation order.
  */
object SparkEntry {

  private val families: Seq[LaneFamily] = Seq(EtlLanes, TextLanes, LinkageLanes,
    AnnLanes, GraphLanes, SpatialLanes, TimeseriesLanes)

  /** Every lane of every family; a name declared twice fails here. */
  lazy val lanes: Seq[Lane] = {
    val all = families.flatMap(_.lanes)
    val twice = all.groupBy(_.name).collect { case (n, ls) if ls.size > 1 => n }
    require(twice.isEmpty, s"lanes declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The named lanes, each once, in the order first named. Throws
    * IllegalArgumentException naming every name that is not a lane. */
  def select(names: Seq[String]): Seq[Lane] = {
    val byName = lanes.map(l => l.name -> l).toMap
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown lanes: ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q02(spark, "/root/testdata/sf0.001")

  private def q02 = queries("q02_region_revenue")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    lanes.map(l => l.name -> l.build).toMap

  /** Each lane's oracle SQL, built on every call; lanes that are not
    * SQL-expressible have no entry. */
  def oracleSql: Map[String, String] =
    lanes.flatMap(l => l.oracle.map(sql => l.name -> sql())).toMap
}
