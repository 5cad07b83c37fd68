package graft.sources

import org.apache.spark.sql.DataFrame

import graft.schema.Resource

/** Schema-enforced parquet sink (SURVEY §2.1) — the engine's analogue of
  * `PudlParquetIOManager.handle_output`
  * (`/root/reference/src/pudl/dagster/io_managers.py:379-419`): enforce the
  * declared schema, then write with size-bounded files; optional hive
  * partitioning mirrors the epacems `year_quarter` sink
  * (`transform/epacems.py:242-297`).
  */
object ParquetSink {

  /** Upper bound on rows per written parquet file. */
  private val MaxRecordsPerFile = 5000000L

  def write(df: DataFrame, resource: Resource, path: String,
            partitionBy: Seq[String] = Nil): Unit = {
    val enforced = resource.enforceSchema(df)
    val writer = enforced.write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
    val w2 = if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
    w2.parquet(path)
  }
}
