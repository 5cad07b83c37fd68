package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection utility: prints the formatted physical plan for the
  * named queries (default: a pushdown-sensitive and a join-strategy-
  * sensitive one). Usage: runMain graft.Explain [sfDir] [query...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q03_filter_project", "q02_region_revenue")
    val spark = GraftSession.local(4)
    SparkEntry.select(names).foreach { l =>
      println(s"===== ${l.name} =====")
      l.build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
