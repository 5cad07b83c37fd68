package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbenchaccess.Bus
import org.apache.spark.sql.{Observation, SparkSession}

import graft.{Etl, GraftSession, SparkEntry, Tables}
import graft.util.SessionHygiene

/** One benchmark run in one JVM: set up a session, run a first pass and
  * a fixed number of warm passes of one workload through graft's public
  * entry points, and write every pass's timings, JMX readings and output
  * digests to `--out` as JSON, together with the workload's input tables
  * and the spine lanes. `perfbench/run.py` builds, launches and scores it.
  *
  * Usage: `perfbench.Main --workload W --fixture DIR --work DIR
  *   --trace 0|1 --cores N --out FILE [--trace-out FILE]`. */
object Main {
  /** A spine lane and the graft module its output comes from: the lane's
    * final `noop` write is triggered by the harness, so the traced run
    * credits it to this module. `tables` are the fixture tables it reads. */
  final case class Lane(name: String, module: String, tables: Seq[String])

  /** Lanes of `query_spine5_sf01`, one per layer. */
  val spine: Seq[Lane] = Seq(
    Lane("q19_rolling_median", "operators", Seq("events")),
    Lane("q42_cosine_topk", "similarity", Seq("embeddings")),
    Lane("q45_connected_components", "graph", Seq("orders", "lineitem")),
    Lane("q61_matrix_impute", "impute", Seq("events")),
    Lane("q69_neardup_canonical", "dedup", Seq("documents")))

  /** Fixture tables one pass of each workload reads, once per reading
    * lane: set-up reads their footers, and `input_rows_per_s` counts
    * their rows. */
  val workloads: Map[String, Seq[String]] = Map(
    "linkage_sf01" -> Seq("supplier"),
    "query_spine5_sf01" -> spine.flatMap(_.tables))

  /** Warm passes after the first pass. The count is fixed because warm
    * passes are still settling, so a varying count would move their
    * median. A traced run alternates traced and untraced warm passes in
    * ABBA order (T U U T), so the settling trend cancels out of the
    * tracing-overhead estimate. */
  val WarmPasses = 2
  val TracedWarmPasses = 4

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val tables = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val fixture = opt("fixture")
    val work = opt("work")
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt

    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    tables.distinct.foreach(t =>
      spark.read.parquet(Tables.path(fixture, t)).schema)
    val readyMs = System.currentTimeMillis()

    val jmx = new Jmx
    val tracer = new Tracer
    val spans = mutable.ArrayBuffer.empty[Span]
    def attach(on: Boolean): Unit = {
      Bus.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
    }

    def isTraced(i: Int): Boolean =
      traced && (i == 0 || Set(0, 3).contains((i - 1) % 4))
    val warm = if (traced) TracedWarmPasses else WarmPasses
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tracing = false
    for (i <- 0 to warm) {
      val t = isTraced(i)
      if (t != tracing) { attach(t); tracing = t }
      passes += runPass(spark, workload, fixture, s"$work/out/pass$i", i,
        t, tracer, spans, jmx)
    }
    if (tracing) attach(false)

    val record = Map[String, Any](
      "workload" -> workload, "cores" -> cores, "traced" -> traced,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs, "ready_ms" -> readyMs,
      "input_tables" -> tables,
      "spine" -> spine.map(l => Map("name" -> l.name, "module" -> l.module)),
      "passes" -> passes.toSeq)
    json.writeValue(new File(opt("out")), record)
    if (traced)
      json.writeValue(new File(opt("trace-out")),
        tracer.render(spans.toSeq) + ("passes" -> passes.toSeq))
    spark.stop()
  }

  /** One pass: the timed window covers only the workload's own calls;
    * digests, cleanup and the post-pass GC run after it. */
  def runPass(spark: SparkSession, workload: String, fixture: String,
              outDir: String, id: Int, traced: Boolean, tracer: Tracer,
              spans: mutable.ArrayBuffer[Span], jmx: Jmx): Map[String, Any] = {
    val lanes = mutable.LinkedHashMap.empty[String, Double]
    val digests = mutable.LinkedHashMap.empty[String, String]
    var core, checks = 0.0
    var checksFailed = 0L
    var error: Option[String] = None
    val passName = s"pass$id"
    tracer.pass = if (traced) id else -1
    val before = jmx.snapshot()
    jmx.maxAfterGc = 0L
    jmx.timing = true
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try workload match {
      case "linkage_sf01" =>
        val (c, k, f) = Etl.linkageCapstone(spark, fixture, outDir)
        core = c; checks = k; checksFailed = f
      case "query_spine5_sf01" =>
        spine.map(_.name).foreach { lane =>
          val laneStart = System.currentTimeMillis()
          val l0 = System.nanoTime()
          val df = SparkEntry.queries(lane)(spark, fixture)
          val obs = Observation(lane)
          val cols = Digest.columns(df)
          df.observe(obs, cols.head, cols.tail: _*)
            .write.format("noop").mode("overwrite").save()
          lanes(lane) = (System.nanoTime() - l0) / 1e9
          spans += Span(lane, laneStart, System.currentTimeMillis(),
            Some(passName), id)
          digests(lane) = Digest.render(df, obs.get)
        }
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        System.err.println(s"[perfbench] pass $id failed: ${error.get}")
        e.printStackTrace()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    jmx.timing = false
    val after = jmx.snapshot()
    spans += Span(passName, startMs, endMs, None, id)
    if (core > 0) {
      val coreEnd = startMs + math.round(core * 1000)
      spans += Span("core", startMs, coreEnd, Some(passName), id)
      spans += Span("checks", coreEnd, math.min(endMs,
        coreEnd + math.round(checks * 1000)), Some(passName), id)
    }
    if (traced) Bus.drain(spark.sparkContext)
    tracer.pass = -1
    // outside the timed window: digest written outputs, clean up, GC
    val out = new File(outDir)
    if (error.isEmpty && out.isDirectory)
      out.listFiles().filter(_.isDirectory).map(_.getName).sorted.foreach { t =>
        digests(t) = Digest.of(spark.read.parquet(s"$outDir/$t"))
      }
    deleteTree(out)
    SessionHygiene.releaseAll(spark)
    val heapLive = jmx.gcLive()
    if (traced) Bus.drain(spark.sparkContext)
    Map(
      "id" -> id, "kind" -> (if (id == 0) "first" else "warm"),
      "traced" -> traced, "start_ms" -> startMs, "end_ms" -> endMs,
      "wall_s" -> wall,
      "cpu_s" -> (after.cpuNs - before.cpuNs) / 1e9,
      "codegen_compiles" -> (after.compiles - before.compiles),
      "jit_s" -> (after.jitMs - before.jitMs) / 1e3,
      "gc_s" -> (after.gcMs - before.gcMs) / 1e3,
      "heap_live_mb" -> heapLive / 1048576.0,
      "heap_after_gc_peak_mb" -> jmx.maxAfterGc / 1048576.0,
      "lanes" -> lanes, "core_s" -> core, "checks_s" -> checks,
      "checks_failed" -> checksFailed, "digests" -> digests,
      "error" -> error)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** JMX readings: process CPU, JIT and GC time, Spark's codegen counters,
  * and the largest heap occupancy seen right after a GC while `timing`. */
final class Jmx {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  @volatile var timing = false
  @volatile var maxAfterGc = 0L

  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(
      new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (timing && n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > maxAfterGc) maxAfterGc = used
          }
      }, null, null)
    case _ =>
  }

  def snapshot(): Jmx.Snap = {
    Jmx.Snap(os.getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Heap in use right after a full collection: the pass's live set.
    * Spark's ContextCleaner frees shuffle and broadcast state only after a
    * GC has cleared their references, so collect twice with a pause. */
  def gcLive(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

object Jmx {
  final case class Snap(cpuNs: Long, jitMs: Long, gcMs: Long, compiles: Long)
}
