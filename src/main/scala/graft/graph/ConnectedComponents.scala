package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components on a DataFrame edge list — the primitive behind the
  * reference's boiler–generator unit assembly and EPA–EIA subplant ids
  * (`/root/reference/src/pudl/transform/eia.py:945-1000`,
  * `dagster/assets/core/glue.py:449-645`), without the GraphFrames dep.
  *
  * Two execution paths, picked by edge count:
  *
  *  - **Small graphs** (≤ `localEdgeThreshold` undirected edges): collect the
  *    edge list and run union-find on the driver, then return the labels as a
  *    DataFrame. This mirrors the reference, which runs networkx on the
  *    driver for exactly these graphs, and costs one job instead of
  *    3 jobs × O(log d) rounds. Even in a 100 TB corpus, the *edge set* of a
  *    near-dup/crosswalk graph is orders of magnitude smaller than the corpus
  *    (pairs ∝ true duplicates), so this path covers most production runs;
  *    the threshold (default 5M edges, ~380 MB of driver heap for the
  *    collected edge list) keeps it safe.
  *
  *  - **Large graphs**: large-star/small-star contraction ([[runStars]],
  *    Kiveris et al. SoCC'14) — O(log n) rounds regardless of graph
  *    diameter, join-free windowed rounds, the safe default when the
  *    shape is unknown. `localCheckpoint` truncates plan lineage.
  */
object ConnectedComponents {

  /** @return (vertex "v", component) with component = min vertex id reachable.
    *
    * Routing: below `localEdgeThreshold` the edge list collects to a driver
    * union-find (one job); above it the star-contraction loop
    * ([[runStars]]) runs — O(log n) rounds with no dependence on graph
    * diameter, the safe default when the shape is unknown. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          maxIter: Int = 25,
          localEdgeThreshold: Long = 5000000L): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .distinct()
    // ONE driver action decides the route AND delivers the small-graph
    // edge list: collect up to threshold+1 rows. The rows arrive as
    // generic Tuple2s of boxed Longs: 5M edges retained 382 MB of driver
    // heap after a full GC (76 B per edge; JDK 17, 4 GB heap, compressed
    // oops), before counting the transient result blocks of the collect.
    // Size the driver heap for that at the default threshold. A graph
    // over the threshold pays one discarded bounded collect and
    // re-derives its edges in runStars.
    import e.sparkSession.implicits._
    val pairs = e.limit(
        (localEdgeThreshold min (Int.MaxValue - 1L)).toInt + 1)
      .as[(Long, Long)].collect()
    if (pairs.length <= localEdgeThreshold) runLocal(e.sparkSession, pairs)
    else {
      // caller's maxIter is honored as-is (star rounds run 3 alternations
      // per iteration, so even the default 25 covers ~75 contractions —
      // far past O(log n) convergence for any realistic graph)
      runStars(edges, srcCol, dstCol, maxIter = maxIter)
    }
  }

  /** Driver union-find (path compression + union by rank). */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
                       pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val verts = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
    verts.map(v => (v, find(v))).toSeq.toDF("v", "component")
  }

  /** Large-star/small-star alternation (Kiveris et al., *Connected
    * Components in MapReduce and Beyond*, ACM SoCC 2014) — the web-scale
    * path promised in the header. Convergence takes O(log n) rounds
    * REGARDLESS of graph diameter, where min-label propagation (even with
    * pointer jumping) needs O(log diameter) rounds and degrades on
    * path-shaped graphs (a 1M-hop chain: ~20 rounds vs ~60). Both phases
    * are one hash aggregation + one shuffle join on vertex id: no
    * per-round growth, `localCheckpoint` truncates lineage.
    *
    *  - large-star(u): every neighbor v > u links to m = min(Γ(u) ∪ {u})
    *  - small-star(u): all neighbors v ≤ u (and u itself) link to their min
    *
    * The fixed point is a set of stars centered at each component's minimum
    * vertex, which is exactly the (v, component) labeling [[run]] returns.
    * Equality with the driver union-find is property-tested on random
    * graphs (OperatorSpec). Throws IllegalStateException when `maxIter`
    * iterations end before the fixed point.
    */
  def runStars(edges: DataFrame, srcCol: String, dstCol: String,
               maxIter: Int = 50): DataFrame = {
    val spark0 = edges.sparkSession
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    // used exactly once (final labeling join) — no checkpoint needed
    val verts = e0.select(explode(array(col("a"), col("b"))).as("v")).distinct()
    val edgeSchema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    // Materialize a round AND compute its convergence signature (edge count
    // + order-free wrapping sum of a 64-bit mix — full hash space, JVM
    // wraparound is fine for an order-free sum) in ONE driver action:
    // rdd.localCheckpoint() marks the blocks, the aggregate materializes
    // them and folds the signature in the same pass. The returned RDD
    // handle lets the superseded round's blocks be released immediately —
    // nothing outlives the loop except the final round backing the labels.
    def materialize(df: DataFrame): (RDD[Row], (Long, Long)) = {
      val rdd = df.rdd
      rdd.localCheckpoint()
      val sig = rdd.aggregate((0L, 0L))(
        (acc, r) => {
          val h = scala.util.hashing.byteswap64(
            r.getLong(0) ^ scala.util.hashing.byteswap64(r.getLong(1)))
          (acc._1 + 1L, acc._2 + h)
        },
        (x, y) => (x._1 + y._1, x._2 + y._2))
      (rdd, sig)
    }
    // One large-star + small-star alternation. Both phases are windowed
    // per-node mins — NO joins: the groupBy-then-join-back form spawns a
    // broadcast build + probe job per join per round (~10 scheduler
    // round-trips/round on small graphs); the window computes the same
    // per-group min inside the shuffle grouping needs anyway, so a full
    // round is 3 exchanges and no action. Same primitives at scale: hash
    // shuffles on vertex id.
    def round(in: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
      // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}).
      // Emitted edges (v, m) have m ≤ u < v — already directed
      // child=first/parent=second, no self-loops; duplicates are absorbed
      // by the small-star distinct.
      val dir = in.unionByName(in.select(col("b").as("a"), col("a").as("b")))
        .withColumn("m", least(min(col("b")).over(w), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      // small-star: all of child group u's parents (and u itself) link to
      // the group min (parents are all < u, so min(N) = min(N ∪ {u}));
      // the per-group (u, m) edge is emitted per row and deduped
      dir
        .withColumn("m", min(col("b")).over(w))
        .select(explode(array(
          struct(col("b").as("a"), col("m").as("b")),
          struct(col("a"), col("m").as("b")))).as("s"))
        .select(col("s.a").as("a"), col("s.b").as("b"))
        .where(col("a") =!= col("b")).distinct()
    }
    var (rddCur, sig) = materialize(e0.where(col("a") =!= col("b")).distinct())
    // Latency/throughput switch, scoped to a CLONED session so concurrent
    // queries on the caller's session never observe it: each round's stages
    // are freshly planned and codegen-compiled (new expr ids every
    // iteration — janino pays ~0.1-0.3 s per stage per round). Below ~10M
    // edges the loop is scheduler/compile-bound, so run it interpreted;
    // above, rounds are data-bound and codegen earns its compile time.
    val loop = spark0.newSession()
    loop.conf.set("spark.sql.shuffle.partitions",
      spark0.conf.get("spark.sql.shuffle.partitions"))
    if (sig._1 <= 10000000L)
      loop.conf.set("spark.sql.codegen.wholeStage", "false")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // three alternations per materialization: cuts the driver actions the
      // convergence loop pays to a third; costs at most two idempotent
      // alternations after the fixed point
      val (rddNext, nextSig) = materialize(
        round(round(round(loop.createDataFrame(rddCur, edgeSchema)))))
      converged = nextSig == sig
      sig = nextSig
      rddCur.unpersist(blocking = false)
      rddCur = rddNext
      i += 1
    }
    // downstream linkage treats components as EXACT identity: labels that
    // may split a component are never returned
    if (!converged) {
      rddCur.unpersist(blocking = false)
      throw new IllegalStateException(s"runStars: maxIter=$maxIter " +
        "exhausted without signature convergence — returned labels may " +
        "split components that one more round would have merged")
    }
    // fixed point is (child, root) stars; roots + self-loop-only vertices
    // label themselves
    val eFinal = spark0.createDataFrame(rddCur, edgeSchema)
    verts.join(eFinal.select(col("a").as("v"), col("b").as("c")), Seq("v"), "left")
      .select(col("v"), coalesce(col("c"), col("v")).as("component"))
  }
}
