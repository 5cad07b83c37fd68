package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each lane's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Deletes `f` and everything under it. listFiles returns null on an IO
    * error; that directory is skipped rather than thrown on, so a caller's
    * original exception is not masked. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated lane names (local iteration); "-"
    // names no lane, so only oracle_sql.json is written
    val selected: Seq[graft.lanes.Lane] =
      if (args.length <= 2) SparkEntry.lanes
      else if (args(2) == "-") Seq.empty
      else SparkEntry.select(args(2).split(",").toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Manifest of every query the run SHOULD produce, written BEFORE the
    // loop: even a hard JVM death mid-run (OOM, SIGKILL) leaves the
    // comparator enough to red-out every query that has no output — the
    // silent-shrink failure the manifest exists to prevent.
    val manifest = selected.map(_.name).sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case graft.lanes.Lane(name, fn, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        // a stale dir from a previous run would otherwise grade green for
        // a query that just crashed — guarantee its absence so the
        // manifest check fires
        rmTree(new java.io.File(s"$outDir/$name"))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // full cause chain: a wrapped failure ("EXPRESSION_ENCODING_
        // FAILED") is undiagnosable from the top-level message alone —
        // round 13 lost a cycle to a Kryo InaccessibleObjectException
        // hidden two causes deep
        e.printStackTrace(System.err)
      }
      // release the query's caches/localCheckpoints — 107 queries in one
      // JVM otherwise accumulate blocks until the storage pool degrades
      graft.util.SessionHygiene.releaseAll(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries FAILED to produce output: " +
          failed.sorted.mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
