package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Scale notes (100 TB design): these settings are the *local* profile; on a
  * real cluster the same builder is used but `master`/memory come from
  * spark-submit. AQE is always on — it handles skew-join splitting and
  * runtime shuffle-partition coalescing, which is our first line of defense
  * at 1000-executor scale. Session timezone is pinned to UTC so timestamp
  * semantics never depend on cluster-local state (SURVEY §7 hard-part #5).
  */
object GraftSession {

  /** Apply graft's canonical confs to any builder.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes Spark's JVM-wide cache of
    * generated classes: one entry per class and class loader, so in local
    * mode a stage fills two, the driver's and the executor's. Spark's
    * default of 100 entries is smaller than one pass of a graft workload,
    * so every warm pass regenerated classes the pass before had compiled.
    * Entries one pass fills at sf0.1: 129 for the linkage capstone (write
    * + validate) and 95 for the five spine lanes q19/q42/q45/q61/q69
    * (perfbench, `local[2]`); ~590 for a `SPARK_GRAFT_CAPSTONES=only`
    * Bench run (table warm-up plus one pass of each capstone). With 100
    * entries every warm pass recompiled 104 linkage and 40 spine classes;
    * with 2000 it recompiles none.
    *
    * A recompile costs executor time as well as driver time. Beyond the
    * janino compile itself, a recompiled class is a new class, so HotSpot
    * runs the tasks' generated code in the interpreter again until it
    * re-JITs it, and small stages end before it does. 2000 entries hold
    * each working set above, not the whole 211-lane suite. Every entry
    * pins its class in Metaspace (a capstones-only Bench run ends at
    * ~175 MB against ~171 MB with 100 entries), so a larger cache needs a
    * Metaspace reading first. The conf is static: the first session that
    * generates code fixes the size for the JVM. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): size-based
      // coalescing (parallelismFirst=false + advisory 256m, guide §9)
      // was MEASURED in round 17 and reverted — it coalesces this
      // engine's compute-dense small shuffles (portable-MD5 hashing,
      // posting-list pair emits) onto too few cores and a 20-query spine
      // regressed 39.5 → 47.2 s (q133 3.9 → 7.7 s). Bytes-per-CPU-second
      // here is low, so parallelism, not partition size, is the binding
      // constraint — on a production cluster the advisory size only
      // matters once shuffles exceed cores × advisory, where the default
      // behaves identically.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE SMJ→shuffled-hash conversion, size-gated at runtime (guide
      // §3.1): a sort-merge join whose post-shuffle partitions ALL fit
      // under the threshold skips both sorts and builds a per-partition
      // hash table instead. Unlike a global preferSortMergeJoin=false
      // this cannot OOM a fat build partition at scale — partitions over
      // the threshold keep the sort-merge plan. Default is 0 (off).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects by default; read as long and convert (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
