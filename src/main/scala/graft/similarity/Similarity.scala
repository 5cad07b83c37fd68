package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * `cosineTopK` is the exact brute-force baseline (and the oracle for the
  * approximate path). `lshTopK` is the scale path: random-hyperplane LSH
  * buckets make candidate generation an equi-join on (bucket), so the
  * query×corpus cross product never materializes — at 100 TB the corpus is
  * hash-partitioned by bucket and each query probes one partition.
  *
  * Every operator is a candidate stage followed by one shared ranking
  * stage. Candidates come from a cross join (the bounded exact twins),
  * the banded-signature join ([[bandedPairs]]), the LSH (tbl, bucket)
  * join or IVF cells; ranking is the exact rounded cosine over per-row
  * norms ([[normed]], [[rankByCosine]]) or the PQ ADC distance
  * ([[adcTopK]]). All planes are the portable Rademacher family
  * ([[rademacherPlanes]]), so every bucket replays in the DuckDB oracle.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a sequential left fold in double precision (deterministic
    * association order — reproducible across engines and partitionings).
    * Declarative form — use `dotFast` in per-pair hot paths. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Same semantics as `dot` (sequential left fold, double precision) via
    * the native codegen expression `graft.plans.FloatDotProduct` —
    * Catalyst's interpreted higher-order functions box every element, which
    * is the difference between 44 s and ~2 s on a 12M-pair scoring pass.
    * Association order matches `dot` exactly, so results on equal-length
    * arrays are bit-identical (PropertySpec); arrays of different lengths
    * throw, where `dot` returns null. */
  def dotFast(a: Column, b: Column): Column = graft.plans.FloatDotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine guarded for zero-norm vectors. A zero denominator is a runtime
    * DIVIDE_BY_ZERO error under ANSI mode (Spark 4 default) and NaN/NULL
    * otherwise — and NaN orders FIRST under `desc` (NaN is greatest) and
    * passes `>= threshold`, where SQL engines produce NULL (sorts last,
    * fails comparisons). `try_divide` + NaN/NULL → −1 (below any real
    * cosine) makes every mode rank and threshold like the oracle's
    * NULLS-last behavior. */
  private def safeCosine(num: Column, denom: Column): Column =
    coalesce(nanvl(try_divide(num, denom), lit(-1.0)), lit(-1.0))

  /** The per-row side projection of every exact-cosine operator:
    * `<side>_id`, `<side>_emb`, the `extra` columns, and the L2 norm
    * `__<side>n`, computed once per ROW (O(n) folds), never per pair
    * (O(n²)). Sides are "q" (queries, orphans) and "c" (corpus). */
  private def normed(df: DataFrame, idCol: String, embCol: String,
                     side: String, extra: Column*): DataFrame = {
    val emb = s"${side}_emb"
    df.select(Seq(col(idCol).as(s"${side}_id"), col(embCol).as(emb)) ++
        extra: _*)
      .withColumn(s"__${side}n", sqrt(dotFast(col(emb), col(emb))))
  }

  /** Unrounded cosine of a candidate row's [[normed]] sides. */
  private def pairCosine: Column =
    safeCosine(dotFast(col("q_emb"), col("c_emb")), col("__qn") * col("__cn"))

  /** The one exact-cosine ranker: `score` (default: [[pairCosine]]
    * rounded to 4 dp) as `cosine`, numbered per `q_id` by cosine desc,
    * then `c_id` asc, as `rk`; rows with rk ≤ k are kept as `out`. The
    * rounding and the id tiebreak make the order insensitive to last-bit
    * float drift, so every ranking here replays in the oracle. */
  private def rankByCosine(cand: DataFrame, k: Int,
                           score: Column = round(pairCosine, 4),
                           out: Seq[String] = Seq("q_id", "rk", "c_id",
                             "cosine")): DataFrame =
    cand.withColumn("cosine", score)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col("c_id").asc)))
      .where(col("rk") <= k)
      .select(out.map(col): _*)

  /** Exact top-k cosine neighbors for each query row (brute force). */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 embCol: String, k: Int): DataFrame =
    rankByCosine(normed(queries, idCol, embCol, "q")
      .crossJoin(normed(corpus, idCol, embCol, "c"))
      .where(col("q_id") =!= col("c_id")), k)

  /** Recall@k of an approximate top-k result against the exact one — the
    * standard ANN index-quality metric (FAISS's `recall@k`): both inputs
    * are `(q_id, rk, c_id, …)` frames as produced by the `*TopK`
    * operators; recall = |approx ∩ exact| / |exact| over the
    * (q_id, c_id) pair sets with both sides truncated to rank ≤ k. One
    * row out: (n_queries, n_exact, n_hit, recall). The ratio is a
    * quotient of two exact integers, so the number reproduces exactly —
    * comparable round-over-round the way the imputer WMAPE gate is.
    *
    * Scale: the expensive input is the exact side (brute force — feed it
    * a BOUNDED query set, never the corpus); the recall computation
    * itself is one equi-join on (q_id, c_id) + one aggregate, both sides
    * |queries|·k rows. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    // BOTH sides dedup to their (q_id, c_id) pair sets: the *TopK frames
    // are rank-unique per pair already, but a malformed approx input would
    // double-count hits (recall > 1) and a malformed exact input would
    // inflate n_exact and silently DEFLATE recall — the distincts (over
    // ≤ |queries|·k rows each) make the metric a true set ratio either way.
    val e = exact.where(col("rk") <= k).select(col("q_id"), col("c_id"))
      .distinct()
    val a = approx.where(col("rk") <= k).select(col("q_id"), col("c_id"))
      .distinct()
      .withColumn("__hit", lit(1))
    e.join(a, Seq("q_id", "c_id"), "left")
      .agg(count_distinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      // empty exact side: an explicit 0.0 instead of a null that callers
      // would have to NPE on — an all-empty gate reads as an obvious
      // recall failure, never as a silently-dropped row
      .withColumn("recall",
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_exact")))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query row, the top-k most-similar corpus rows with a DIFFERENT
    * label — the highest-value negatives (similar-but-wrong) that
    * in-batch random sampling almost never surfaces. With
    * `bandedDim = None` the exact brute form runs (bounded query sets —
    * the q154 oracle twin); with `bandedDim = Some(dim)` candidates must
    * share ≥1 portable sign-bit band ([[bandedPairs]]), so the search is
    * a (band, bits) equi-join — candidate
    * volume ~ bands × corpus / 2^(nBits/bands) per query, never corpus²
    * (recall vs the exact form is spec-tested, the lshTopK pattern).
    * TUNING: hard negatives live in the moderate-cosine band
    * (~0.3–0.6), so use NARROW bands (e.g. bands=12 over nBits=24 →
    * 2-bit bands); the default 6-bit near-dup blocking is tuned for
    * cosine ≳0.9 pairs and recalls poorly here (0.23 vs 0.5+ on the
    * fixture).
    * Output: (q_id, q_label, rk, c_id, c_label, cosine). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    embCol: String, labelCol: String, k: Int,
                    bandedDim: Option[Int] = None, nBits: Int = 24,
                    bands: Int = 4): DataFrame = {
    val q = normed(queries, idCol, embCol, "q", col(labelCol).as("q_label"))
    val c = normed(corpus, idCol, embCol, "c", col(labelCol).as("c_label"))
    val cand = bandedDim match {
      case None => q.crossJoin(c)
      case Some(dim) =>
        bandedPairs(queries, corpus, idCol, embCol, dim, nBits, bands)
          .join(q, "q_id").join(c, "c_id")
    }
    rankByCosine(cand.where(col("q_id") =!= col("c_id") &&
        !(col("q_label") <=> col("c_label"))), k,
      out = Seq("q_id", "q_label", "rk", "c_id", "c_label", "cosine"))
  }

  /** Assign each orphan (unclustered) row to the cluster of its nearest
    * clustered neighbor by cosine — `match_orphaned_records`
    * (`/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:241-299`).
    * Brute-force here (orphans × clustered); [[nearestAssignBlocked]] is
    * the scale path. */
  def nearestAssign(orphans: DataFrame, clustered: DataFrame, idCol: String,
                    embCol: String, clusterCol: String): DataFrame =
    nearestOf(orphans, clustered, idCol, embCol, clusterCol)(_.crossJoin(_))

  /** Scale path for [[nearestAssign]]: candidates come from the banded
    * sign-bit LSH equi-join ([[bandedPairs]], the same portable planes as
    * [[cosineNearDupPairs]]) instead of the orphans × clustered cross join.
    * Shuffle keys are (band, bits); per-orphan candidate volume is
    * ~ bands × clustered / 2^(nBits/bands). Narrow bands (bands = nBits →
    * 1-bit bands) approach full recall at the cost of wider buckets; the
    * default 6-bit bands match the near-dup blocking. An orphan whose every
    * band bucket is empty gets no assignment (stays a singleton upstream) —
    * the approximation the cross join avoids, traded for never
    * materializing the product at 100 TB.
    *
    * `bandProbe1 = true` additionally probes, on the ORPHAN side only,
    * every single-bit-flip neighbor bucket of each band — the multi-probe
    * recall lever in its best-case placement: orphans are the BOUNDED side
    * of this join, so the (w+1)× membership growth lands on a
    * few-thousand-row frame while the clustered corpus index stays
    * untouched. */
  def nearestAssignBlocked(orphans: DataFrame, clustered: DataFrame,
                           idCol: String, embCol: String, clusterCol: String,
                           dim: Int, nBits: Int = 24,
                           bands: Int = 4,
                           bandProbe1: Boolean = false): DataFrame =
    nearestOf(orphans, clustered, idCol, embCol, clusterCol) { (o, c) =>
      bandedPairs(orphans, clustered, idCol, embCol, dim, nBits, bands,
          probeA = bandProbe1)
        .join(o, "q_id").join(c, "c_id")
    }

  /** Top-1 of the exact ranker over the candidates `pair` forms from the
    * [[normed]] orphan and clustered sides. */
  private def nearestOf(orphans: DataFrame, clustered: DataFrame,
                        idCol: String, embCol: String, clusterCol: String)(
                        pair: (DataFrame, DataFrame) => DataFrame): DataFrame =
    rankByCosine(pair(normed(orphans, idCol, embCol, "q"),
        normed(clustered, idCol, embCol, "c",
          col(clusterCol).as("assigned_cluster"))), 1,
        out = Seq("q_id", "c_id", "cosine", "assigned_cluster"))
      .toDF("orphan_id", "neighbor_id", "cosine", "assigned_cluster")

  /** Exact eps-graph edges (rounded cosine ≥ threshold) by brute force —
    * the verification twin of the blocked LSH paths, standing in for the
    * reference's O(n²) `DistanceMatrix` memmap
    * (`/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:34-128`).
    *
    * The declarative crossJoin form pays ~0.5 KB of UnsafeRow copy per pair
    * (two 64-float arrays materialized through the nested-loop join) — at
    * 12M fixture pairs that memcpy IS the runtime. Since this path only
    * exists where the corpus is bounded (it is quadratic by definition; the
    * scale path is [[cosineNearDupPairs]]), the corpus is collected and
    * broadcast once (~20 bytes + 4·dim per row) and the triangular pair
    * loop runs on primitive float arrays inside `mapPartitions` — SURVEY
    * §7's "last resort" tier, justified here because no join materializes
    * anything. Row ranges are stride-interleaved so every task gets an
    * equal share of the triangle (contiguous blocks would give the first
    * task n·par more pairs than the last).
    *
    * Output is bit-identical to the crossJoin + [[dotFast]] + `round(_, 4)`
    * form: same left-fold association, same `BigDecimal` HALF_UP rounding
    * (what Spark's `round` does for doubles). Zero-norm vectors are
    * skipped (the declarative form's NaN cosine compares TRUE under
    * Spark's NaN-is-greatest `>=`, which no oracle reproduces — the same
    * divergence [[safeCosine]] guards). Embeddings of different lengths
    * throw IllegalArgumentException naming both lengths, as [[dotFast]]
    * does. */
  def bruteForceEpsPairs(df: DataFrame, idCol: String, embCol: String,
                         threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val corpus: Array[(Long, Array[Float])] = df
      .select(col(idCol).cast("long"), col(embCol))
      .where(col(idCol).isNotNull && col(embCol).isNotNull)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val norms: Array[Double] = corpus.map { case (_, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
    val bc = spark.sparkContext.broadcast((corpus, norms))
    val n = corpus.length
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    spark.range(0, par.toLong, 1, par).as[Long].flatMap { p =>
      val (c, nm) = bc.value
      Iterator.range(p.toInt, n, par).flatMap { i =>
        val (ida, va) = c(i)
        val na = nm(i)
        Iterator.range(i + 1, n).flatMap { j =>
          val (idb, vb) = c(j)
          val nb = nm(j)
          if (va.length != vb.length) throw new IllegalArgumentException(
            s"bruteForceEpsPairs: embedding lengths differ (${va.length} vs ${vb.length})")
          if (na == 0.0 || nb == 0.0) Iterator.empty
          else {
            var acc = 0.0; var k = 0
            while (k < va.length) { acc += va(k).toDouble * vb(k).toDouble; k += 1 }
            val cos = java.math.BigDecimal.valueOf(acc / (na * nb))
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            if (cos >= threshold) Iterator.single((ida, idb, cos))
            else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cosine")
  }

  /** Deterministic Rademacher (±1) planes derived from the portable
    * MD5-prefix hash: sign(i,d) = +1 iff hex60(md5("i_d")) is even. They
    * are reproducible in ANY engine with MD5 — the DuckDB oracle rebuilds
    * the identical matrix, and sign-bit projections of ±1 planes are
    * bit-exact (same in-order double sum on both sides). Rademacher
    * projections preserve angles in expectation just like Gaussian ones
    * (Achlioptas 2001; lshTopK recall@5 on the fixture at nBits 3, 6
    * tables: 0.77, vs 0.76 with Gaussian planes), so this one family
    * serves both the scale path and the oracle. */
  private def rademacherPlanes(nBits: Int, dim: Int): Seq[Array[Float]] =
    (0 until nBits).map { i =>
      Array.tabulate(dim) { d =>
        if (graft.functions.PortableHash.hex60(s"${i}_$d") % 2 == 0) 1f else -1f
      }
    }

  /** `tables` row-major nBits × dim plane matrices: table t holds the
    * global planes g = t·nBits + i, the indexing the oracle replays. */
  private def tablePlanes(nBits: Int, tables: Int,
                          dim: Int): Seq[Array[Float]] =
    rademacherPlanes(tables * nBits, dim).grouped(nBits)
      .map(_.flatten.toArray).toSeq

  /** All (table, bucket) memberships for an embedding: `tables` independent
    * hash tables of `nBits` planes each, one native `PlaneSignBits` node
    * per table. Multi-table is what buys recall: a true neighbor is a
    * candidate if it collides in ANY table. */
  private def bucketMemberships(emb: Column, nBits: Int, tables: Int,
                                dim: Int): Column =
    array(tablePlanes(nBits, tables, dim).zipWithIndex.map { case (p, t) =>
      struct(lit(t).as("tbl"),
        graft.plans.PlaneSignBits(emb, p, dim).as("bucket"))
    }: _*)

  /** The full nBits sign signature as ONE expression. [[bandedPairs]]
    * materializes it into a column before its explode: struct arrays that
    * INLINE the signature expression repeat it per struct, and past a
    * handful of copies the generator stage falls out of whole-stage
    * codegen and evaluates interpreted (the probed 28-struct form cost
    * 90 µs/row — 50× the codegen'd path — until semDedup switched to the
    * sig-as-column shape, round 17). */
  private def planeSig(embCol: String, dim: Int, nBits: Int): Column =
    graft.plans.PlaneSignBits(col(embCol),
      rademacherPlanes(nBits, dim).flatten.toArray, dim)

  /** The one banded-signature candidate join, behind [[hardNegatives]]
    * (banded), [[nearestAssignBlocked]], [[cosineNearDupPairs]] and
    * [[semDedup]] (banded). The [[planeSig]] signature splits into
    * `bands` equal bands of w = nBits/bands bits; rows of `a` and `b`
    * meet when they agree exactly on ≥1 band — and on the `key` column,
    * when given (semDedup's cluster). Shuffle keys are (key, band, bits):
    * candidate volume per row is ~ bands × |b| / 2^w, never |a|·|b|.
    *
    * `probeA` adds, on the `a` side only, every Hamming-radius-1
    * neighbor bucket of each band: a pair whose band signatures differ in
    * ONE bit meets in that band — the near-dup transfer of multi-probe
    * LSH ([[lshMultiProbeTopK]]) at (w+1)× memberships on the probe side,
    * while `b`, the index-sized side at 100 TB, keeps its base
    * memberships.
    *
    * Returns the distinct (q_id, c_id) pairs, q_id from `a` and c_id
    * from `b`. A self-join (a == b, no probe) has two identical sides —
    * the signature's plane matrix compares by value — and AQE reuses one
    * side's exchange. */
  private def bandedPairs(a: DataFrame, b: DataFrame, idCol: String,
                          embCol: String, dim: Int, nBits: Int, bands: Int,
                          probeA: Boolean = false,
                          key: Option[String] = None): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val w = nBits / bands
    val sig = planeSig(embCol, dim, nBits)
    val keep = col(idCol) +: key.toSeq.map(col)
    def memberships(df: DataFrame, probe: Boolean): DataFrame = {
      val structs = (0 until bands).flatMap { band =>
        val bits = shiftright(col("__sig"), band * w)
          .bitwiseAND(lit((1L << w) - 1))
        val flips =
          if (probe) (0 until w).map(i => bits.bitwiseXOR(lit(1L << i)))
          else Nil
        (bits +: flips).map(v => struct(lit(band).as("band"), v.as("bits")))
      }
      df.withColumn("__sig", sig)
        .select(keep :+ explode(array(structs: _*)).as("bb"): _*)
        .select(keep ++ Seq(col("bb.band"), col("bb.bits")): _*)
    }
    memberships(a, probeA).as("x")
      .join(memberships(b, probe = false).as("y"),
        key.toSeq ++ Seq("band", "bits"))
      .select(col(s"x.$idCol").as("q_id"), col(s"y.$idCol").as("c_id"))
      .distinct()
  }

  /** The one portable seeded-row pick: the embeddings of the `n` corpus
    * rows with the smallest portable hash `hex60(prefix || id)` (ties by
    * id-as-string) — IVF centroids ("ivf_") and PQ codebook seeds ("pq_").
    * Sampled-seed init is a standard quantizer init; a deterministic
    * engine-portable pick makes the operators built on it replayable by
    * the DuckDB oracle. sort+limit is a distributed TopK: n rows reach
    * the driver. */
  private def seededRows(corpus: DataFrame, idCol: String, embCol: String,
                         prefix: String, n: Int): Seq[Array[Float]] =
    corpus
      .select(col(idCol).cast("string").as("__sid"), col(embCol).as("__emb"))
      .withColumn("__h",
        graft.functions.PortableHash.hex60(concat(lit(prefix), col("__sid"))))
      .sort(col("__h"), col("__sid")).limit(n)
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  /** Portable IVF (inverted-file) approximate top-k — the other standard
    * ANN scale path next to LSH: the coarse quantizer is the `nCells`
    * [[seededRows]] ("ivf_"), used directly as centroids with no Lloyd
    * refinement; each query probes its `nProbe` nearest centroids and
    * ranks exactly within those cells. Cells only ROUTE candidates,
    * recall comes from `nProbe` (nProbe = nCells degrades to exact brute
    * force).
    *
    * At 100 TB the corpus is hash-partitioned by cell id (the shuffle
    * key), centroids are plan-time literals, and candidate volume per
    * query is ~ nProbe/nCells of the corpus — the cross product never
    * forms. The ENTIRE operator — seed set, cell assignment, probe set,
    * final ranking — is replayable by the DuckDB oracle, so the
    * approximate ANN path is hash-checked, not rows-only. Cell-routing
    * distances are rounded (4 dp, cell-id tiebreak) so argmin agrees
    * across engines despite summation-order float drift. */
  def ivfTopKSeeded(queries: DataFrame, corpus: DataFrame, idCol: String,
                    embCol: String, k: Int, nCells: Int,
                    nProbe: Int): DataFrame = {
    val routing = cellRouting(embCol,
      seededRows(corpus, idCol, embCol, "ivf_", nCells))
    val c = normed(corpus.withColumn("cell", nearestCell(routing)),
      idCol, embCol, "c", col("cell"))
    val q = normed(queries.withColumn("cell", probedCells(routing, nProbe)),
      idCol, embCol, "q", col("cell"))
    rankByCosine(q.join(c, Seq("cell")).where(col("q_id") =!= col("c_id")), k)
  }

  /** Constant centroids → cell routing as one codegen expression per
    * row: (dist, cell) structs sorted by argmin over cells of
    * |v−c|² = v·v − 2v·c + c·c, with the per-row v·v constant dropped
    * (ordering only). All centroid dots come from ONE PlaneProjections
    * node; rounding (4 dp, cell tiebreak) makes the argmin
    * engine-portable. No shuffle, no window. */
  private def cellRouting(embCol: String,
                          centroids: Seq[Array[Float]]): Column = {
    val dim = centroids.head.length
    val cNorms2 = array(centroids.map(c =>
      lit(c.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble))): _*)
    val rawDist = zip_with(
      graft.plans.PlaneProjections(col(embCol), centroids.flatten.toArray, dim),
      cNorms2, (proj, n2) => n2 - lit(2.0) * proj)
    array_sort(transform(transform(rawDist, d => round(d, 4)), (d, i) =>
      struct(d.as("dist"), i.as("cell"))))
  }

  /** A corpus row's cell: the nearest centroid of [[cellRouting]]. */
  private def nearestCell(routing: Column): Column =
    element_at(routing, 1).getField("cell")

  /** A query row's probed cells, one row each: its `nProbe` nearest. */
  private def probedCells(routing: Column, nProbe: Int): Column =
    explode(transform(slice(routing, 1, nProbe), s => s.getField("cell")))

  /** Single-row frame of per-dimension corpus (min, max) — the SQ8
    * codebook. Dim-bounded metadata (64 doubles per array here), computed
    * with one explode + hash agg and collapsed to aligned arrays, so it
    * broadcasts; at 100 TB this is the one full-corpus pass a quantizer
    * pays once, then every reader works on 1/4 the bytes. */
  def sq8Stats(df: DataFrame, embCol: String): DataFrame =
    df.select(posexplode(col(embCol)).as(Seq("__d", "__v")))
      .groupBy(col("__d"))
      .agg(min(col("__v").cast("double")).as("__mn"),
        max(col("__v").cast("double")).as("__mx"))
      .agg(array_sort(collect_list(
        struct(col("__d"), col("__mn"), col("__mx")))).as("__s"))
      .select(transform(col("__s"), x => x.getField("__mn")).as("__mns"),
        transform(col("__s"), x => x.getField("__mx")).as("__mxs"))

  /** Scalar int8 quantization (the FAISS `SQ8` baseline, Jégou et al.,
    * *Product Quantization for Nearest Neighbor Search*, TPAMI 2011 §III.A
    * discusses the scalar special case): per-dimension affine map of each
    * float to a 0..255 code against the corpus [min, max] — 4× smaller
    * vectors, which at 100 TB is the difference between an in-memory and a
    * spilling ANN index. The map is EXACT integer arithmetic on identically
    * derived doubles, so codes are reproducible bit-for-bit by any engine
    * (constant dimensions quantize to 0 rather than dividing by zero).
    * Adds `code: array<long>` next to the original column. */
  def sq8Quantize(df: DataFrame, idCol: String, embCol: String,
                  stats: DataFrame): DataFrame =
    df.crossJoin(broadcast(stats))
      .withColumn("code", transform(sequence(lit(1), size(col(embCol))),
        i => {
          val mn = element_at(col("__mns"), i)
          val mx = element_at(col("__mxs"), i)
          when(mx === mn, lit(0L)).otherwise(
            round((element_at(col(embCol), i).cast("double") - mn) *
              255.0 / (mx - mn)).cast("long"))
        }))

  /** Asymmetric quantized top-k (ADC: raw query × dequantized corpus
    * codes): the compressed-corpus variant of [[cosineTopK]], same output
    * contract (rounded cosine, id tiebreak). The corpus rides as codes —
    * the raw embedding never reaches the join — so the scoring pass moves
    * 4× fewer bytes; recall loss is the quantization error (spec-tested
    * ≥ 0.8 recall@5 on the fixture). Scores double arrays with [[dot]]
    * (`FloatDotProduct` takes float arrays only), ranks through the shared
    * ranker. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame = {
    val stats = sq8Stats(corpus, embCol)
    val deq = sq8Quantize(corpus, idCol, embCol, stats)
      .withColumn("__xhat", transform(sequence(lit(1), size(col("code"))),
        i => element_at(col("__mns"), i) + element_at(col("code"), i) *
          (element_at(col("__mxs"), i) - element_at(col("__mns"), i)) / 255.0))
      .select(col(idCol).as("c_id"), col("__xhat"))
      .withColumn("__cn", sqrt(dot(col("__xhat"), col("__xhat"))))
    val q = queries.select(col(idCol).as("q_id"),
        col(embCol).cast("array<double>").as("__q"))
      .withColumn("__qn", sqrt(dot(col("__q"), col("__q"))))
    rankByCosine(q.crossJoin(deq).where(col("q_id") =!= col("c_id")), k,
      score = round(safeCosine(dot(col("__q"), col("__xhat")),
        col("__qn") * col("__cn")), 4))
  }

  // ---- Product quantization (Jégou et al., *Product Quantization for
  // Nearest Neighbor Search*, TPAMI 2011) — the codebook ANN compression
  // next to SQ8: dim splits into `m` subspaces, each subvector snaps to
  // one of `nCodes` codewords, the corpus rides as m small ints
  // (dim·4 bytes → m bytes at nCodes ≤ 256), and queries score
  // asymmetrically (raw query × reconstructed codewords — ADC, §IV.A).
  // At 100 TB the encoded corpus is the only thing the scoring pass
  // moves; codebooks are plan-time literals (the IVF-router pattern), so
  // encode and ADC are pure per-row expressions — zero shuffle beyond
  // the final per-query top-k window.

  /** Per subspace mi, the mi-th `dim/m`-float slice of every vector. */
  private def subvectors(vs: Seq[Array[Float]],
                         m: Int): Seq[Seq[Array[Float]]] = {
    val dim = vs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    (0 until m).map(mi => vs.map(_.slice(mi * sub, (mi + 1) * sub)))
  }

  /** Portable PQ codebooks: the `nCodes` [[seededRows]] ("pq_"), each
    * split into `m` subvectors — subspace `mi`'s codebook is the seeds'
    * mi-th subvectors, no Lloyd refinement (the [[ivfTopKSeeded]] trick),
    * so encode + ADC + ranking replay in the DuckDB oracle. */
  private def pqSeededCodebooks(corpus: DataFrame, idCol: String,
                                embCol: String, m: Int,
                                nCodes: Int): Seq[Seq[Array[Float]]] =
    subvectors(seededRows(corpus, idCol, embCol, "pq_", nCodes), m)

  /** PQ-encode: append `codes` (array<int>, length m) — per subspace the
    * argmin codeword by ROUNDED (4 dp) `|c|² − 2·v_m·c` distance
    * (the per-row `|v_m|²` constant drops; ordering only) with codeword
    * index as tiebreak, so assignments agree across engines despite
    * summation-order float drift. One codegen'd
    * [[graft.plans.PqEncodeCodes]] node per row computes all m codes. */
  def pqEncode(df: DataFrame, embCol: String,
               codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    // ONE native codegen pass computes all m argmin codes
    // (graft.plans.PqEncodeCodes): rounded distance + strict-< tiebreak
    // exactly as the declarative zip_with/round/fold chain it replaced —
    // that chain boxed nCodes structs per subspace per row through three
    // interpreted HOFs, the measured bulk of the sf1 encode pass
    val withCodes = df.withColumn("codes",
      graft.plans.PqEncodeCodes(col(embCol), codebooks))
    // __cn2sum (the fold of the chosen codewords' norms, fixed subspace
    // order) rides next to the codes so ADC never re-derives it per pair
    val cn2Sum = (0 until m).map { mi =>
      val cn2 = array(codebooks(mi).map(c =>
        lit(c.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))): _*)
      element_at(cn2, element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
    withCodes.withColumn("__cn2sum", cn2Sum)
  }

  /** The one ADC rank, shared by [[pqAdcTopK]] and [[ivfPqTopKSeeded]]:
    * per (q_id, c_id) pair that `pair` forms from `queries` (`q_id`,
    * `__q`, …), the approximate squared euclidean distance
    * Σ_m |q_m − c_{m,codes[m]}|², each term expanded as
    * `|q_m|² + |c|² − 2·q_m·c` with the codeword vector and its norm read
    * from plan-time literal arrays by the corpus row's code — the raw
    * corpus embedding never reaches the join. Terms sum in fixed subspace
    * order and round once (4 dp, id tiebreak) so the ranking replays
    * across engines. */
  private def adcTopK(queries: DataFrame, k: Int,
                      codebooks: Seq[Seq[Array[Float]]])(
                      pair: DataFrame => DataFrame): DataFrame = {
    val sub = codebooks.head.head.length
    // per-pair algebra: adc = |q|² + Σ|c|² − 2·Σ q_m·c_m, with |q|²
    // (fold of per-subspace norms) computed ONCE per query row and Σ|c|²
    // attached at encode time — only the m small dots remain per pair
    val qn2Tot = codebooks.indices.map { mi =>
      val qm = slice(col("__q"), mi * sub + 1, sub)
      dotFast(qm, qm)
    }.reduce(_ + _)
    // native pair kernel: one codegen pass over all m subspace dots
    // (codeword lookup by the corpus row's code) — the declarative
    // slice + literal-array + HOF form evaluated m interpreted folds
    // per pair
    val dotSum = graft.plans.PqAdcDotSum(col("__q"), col("codes"), codebooks)
    pair(queries.withColumn("__qn2", qn2Tot))
      .where(col("q_id") =!= col("c_id"))
      .withColumn("adc_dist",
        round(col("__qn2") + col("__cn2sum") - lit(2.0) * dotSum, 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc_dist").asc, col("c_id").asc)))
      .where(col("rk") <= k)
      .select("q_id", "rk", "c_id", "adc_dist")
  }

  /** ADC top-k of every query over the whole PQ-encoded corpus. */
  private def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, embCol: String, k: Int,
                        codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    val encoded = pqEncode(corpus, embCol, codebooks)
      .select(col(idCol).as("c_id"), col("codes"), col("__cn2sum"))
    adcTopK(queries.select(col(idCol).as("q_id"), col(embCol).as("__q")), k,
      codebooks)(_.crossJoin(encoded))
  }

  /** Portable PQ ADC top-k (seeded codebooks, fully oracle-replayable —
    * the q159 production twin at fixture scale). */
  def pqTopKSeeded(queries: DataFrame, corpus: DataFrame, idCol: String,
                   embCol: String, k: Int, m: Int = 8,
                   nCodes: Int = 32): DataFrame =
    pqAdcTopK(queries, corpus, idCol, embCol, k,
      pqSeededCodebooks(corpus, idCol, embCol, m, nCodes))

  /** IVF-PQ (the composition FAISS ships as `IVFx,PQy` — Jégou et al.
    * TPAMI 2011 §V): seeded-IVF cell routing prunes the corpus to each
    * query's `nProbe` cells, and ranking inside the probed cells runs on
    * the PQ-compressed codes via ADC — the canonical 100 TB ANN serving
    * shape, where the scoring pass moves m-byte codes hash-partitioned
    * by cell id instead of raw vectors, and candidate volume per query
    * is ~ nProbe/nCells of the corpus. Both quantizers are the portable
    * seeded forms, so routing, codes, and ranking all replay in the
    * oracle (q162). */
  def ivfPqTopKSeeded(queries: DataFrame, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int, nCells: Int, nProbe: Int,
                      m: Int = 16, nCodes: Int = 64): DataFrame = {
    val routing = cellRouting(embCol,
      seededRows(corpus, idCol, embCol, "ivf_", nCells))
    val cbs = pqSeededCodebooks(corpus, idCol, embCol, m, nCodes)
    val corpusCells = pqEncode(corpus, embCol, cbs)
      .withColumn("cell", nearestCell(routing))
      .select(col(idCol).as("c_id"), col("codes"), col("__cn2sum"),
        col("cell"))
    val queryCells = queries
      .withColumn("cell", probedCells(routing, nProbe))
      .select(col(idCol).as("q_id"), col(embCol).as("__q"), col("cell"))
    adcTopK(queryCells, k, cbs)(_.join(corpusCells, Seq("cell")))
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space member of
    * the dedup family (exact / MinHash / SimHash / Jaccard live in
    * `graft.dedup.NearDup`). Candidate generation is banded sign-bit
    * blocking ([[bandedPairs]]): an `nBits`-bit plane signature split into
    * `bands` equal bands; pairs agreeing exactly on ≥1 band meet in a
    * (band, bits) equi-join, then the EXACT cosine filter `>= threshold`
    * runs inside buckets only. The all-pairs cross product never
    * materializes: shuffle keys are (band, bits), candidate volume per doc
    * is ~ bands × corpus / 2^(nBits/bands) — the same blocking shape as
    * MinHash-LSH, tuned by band width. With the portable plane matrix the
    * entire operator (signatures → buckets → pairs → cosine) is
    * replayable by the DuckDB oracle, so it is hash-checked, not
    * rows-only. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         dim: Int, threshold: Double, nBits: Int = 24,
                         bands: Int = 4): DataFrame =
    bandedPairs(df, df, idCol, embCol, dim, nBits, bands)
      .where(col("q_id") < col("c_id"))
      .join(normed(df, idCol, embCol, "q"), "q_id")
      .join(normed(df, idCol, embCol, "c"), "c_id")
      .withColumn("__cos", pairCosine)
      .where(col("__cos") >= threshold)
      .select(col("q_id").as("id_a"), col("c_id").as("id_b"),
        round(col("__cos"), 4).as("cosine"))

  /** Euclidean near-pair generation via p-stable LSH — the scale
    * replacement for the reference's O(n²) `DistanceMatrix` memmap
    * (`/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:34-128`)
    * under its own metric (the cross-year features are euclidean, not
    * cosine). Datar–Indyk scheme: bucket_t(v) = ⌊(v·g_t)/w + b_t⌋ for a
    * random direction g_t and shift b_t ∈ [0, 1); vectors within
    * distance eps land in the same bucket of some table with probability
    * rising as w/eps grows. Directions are Rademacher and shifts
    * MD5-derived (namespaced "eg_"/"eshift_" keys; the sign-bit planes
    * use bare "i_d"), so the DuckDB oracle rebuilds grids, buckets and
    * candidates exactly. Candidates meet on the (table, bucket)
    * equi-join — same blocking shape as every other family here — and the
    * EXACT distance filter runs inside buckets only.
    *
    * Neighboring-bucket misses are covered by multiple tables (shifted
    * grids), the standard multi-table trade: recall is tuned by `tables`
    * and `w` (≈ 2×eps is a good default), never by widening to a cross
    * join. */
  def euclideanNearPairs(df: DataFrame, idCol: String, embCol: String,
                         dim: Int, eps: Double, w: Double,
                         tables: Int = 8): DataFrame = {
    val grids: Seq[(Array[Float], Double)] = Seq.tabulate(tables) { t =>
      (Array.tabulate(dim) { d =>
        if (graft.functions.PortableHash.hex60(s"eg_${t}_$d") % 2 == 0) 1f
        else -1f
      }, (graft.functions.PortableHash.hex60(s"eshift_$t") % 1000000L)
        / 1000000.0)
    }
    // all grid projections in one PlaneProjections node, shifts as one
    // literal array; zip_with + posexplode keeps the plan at a handful of
    // nodes instead of tables × dim literals
    val flat = grids.flatMap(_._1).toArray
    val shifts = array(grids.map { case (_, s) => lit(s) }: _*)
    val bucketArr = zip_with(
      graft.plans.PlaneProjections(col(embCol), flat, dim), shifts,
      (proj, shift) => floor(proj / w + shift).cast("long"))
    val buckets = df.select(col(idCol),
        posexplode(bucketArr).as(Seq("tbl", "bucket")))
    val cand = buckets.as("x").join(buckets.as("y"), Seq("tbl", "bucket"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // exact squared distance via the codegen dot product:
    // |a-b|² = a·a - 2a·b + b·b, with the self-dots computed once per ROW
    // (O(n)) instead of per pair (O(candidates)); the final expression
    // keeps the same left-to-right association, so __d2 is bit-identical
    val e = df.select(col(idCol), col(embCol))
      .withColumn("__n2", dotFast(col(embCol), col(embCol)))
    val ea = e.select(col(idCol).as("id_a"), col(embCol).as("__ea"),
      col("__n2").as("__na2"))
    val eb = e.select(col(idCol).as("id_b"), col(embCol).as("__eb"),
      col("__n2").as("__nb2"))
    cand.join(ea, "id_a").join(eb, "id_b")
      .withColumn("__d2",
        col("__na2")
          - lit(2.0) * dotFast(col("__ea"), col("__eb"))
          + col("__nb2"))
      .where(col("__d2") <= eps * eps)
      .select(col("id_a"), col("id_b"),
        round(sqrt(greatest(col("__d2"), lit(0.0))), 6).as("dist"))
  }

  /** Approximate top-k: candidates share an LSH bucket in any of `tables`
    * hash tables, then exact cosine rank within candidates. Raise `tables`
    * for recall, `nBits` for selectivity — candidate volume is
    * ~ tables × corpus / 2^nBits per query, never the full cross product. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              embCol: String, k: Int, nBits: Int, dim: Int,
              tables: Int = 4): DataFrame =
    lshRank(queries, corpus, idCol, embCol, k, nBits, dim, tables,
      bucketMemberships(col(embCol), nBits, tables, dim))

  /** The body of [[lshTopK]] and [[lshMultiProbeTopK]]: query rows
    * explode `queryMembers`, corpus rows their base (tbl, bucket)
    * memberships; candidates meet on the (tbl, bucket) equi-join, keep one
    * row per (q_id, c_id), and go through the exact ranker. */
  private def lshRank(queries: DataFrame, corpus: DataFrame, idCol: String,
                      embCol: String, k: Int, nBits: Int, dim: Int,
                      tables: Int, queryMembers: Column): DataFrame = {
    def side(df: DataFrame, s: String, members: Column): DataFrame =
      normed(df.withColumn("bb", explode(members)), idCol, embCol, s,
        col("bb.tbl"), col("bb.bucket"))
    val cand = side(queries, "q", queryMembers)
      .join(side(corpus, "c", bucketMemberships(col(embCol), nBits, tables,
        dim)), Seq("tbl", "bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "q_emb", "__qn", "c_id", "c_emb", "__cn")
      .dropDuplicates("q_id", "c_id")
    rankByCosine(cand, k)
  }

  /** Per-(table) probe memberships for multi-probe LSH: the base bucket
    * plus the `probes − 1` single-bit-flip neighbor buckets whose planes
    * have the smallest projection margin |emb · plane| — the buckets a true
    * neighbor most likely fell into when it landed just across a hyperplane
    * (Lv et al., "Multi-Probe LSH", VLDB 2007; this is the step-wise probing
    * sequence truncated at Hamming radius 1).
    *
    * Margins come from [[PlaneProjections]] — the same in-order double
    * accumulation as [[PlaneSignBits]] — so with the Rademacher ±1 planes
    * every margin, and therefore the probe ORDER, is bit-identical
    * to the DuckDB oracle's `list_sum` replay. Ties break toward the lower
    * plane index (struct sort on (margin, bit)). `probes = 1` degrades to
    * exactly the base memberships of [[lshTopK]]. */
  private def multiProbeMemberships(emb: Column, nBits: Int, tables: Int,
                                    dim: Int, probes: Int): Column = {
    require(probes >= 1 && probes <= nBits + 1,
      s"probes must be in [1, nBits + 1 = ${nBits + 1}], got $probes")
    val pow2 = array((0 until nBits).map(i => lit(1L << i)): _*)
    flatten(array(tablePlanes(nBits, tables, dim).zipWithIndex.map {
      case (flat, t) =>
        val base = graft.plans.PlaneSignBits(emb, flat, dim)
        val proj = graft.plans.PlaneProjections(emb, flat, dim)
        // (|margin|, bit) ascending: the cheapest planes to cross first
        val margins = array_sort(transform(proj, (p, i) =>
          struct(abs(p).as("m"), i.as("bit"))))
        val flips = transform(slice(margins, 1, probes - 1), s =>
          base.bitwiseXOR(element_at(pow2, s.getField("bit") + 1)))
        transform(concat(array(base), flips), b =>
          struct(lit(t).as("tbl"), b.as("bucket")))
    }: _*))
  }

  /** Exact re-rank of an ANN shortlist — the second stage of FAISS's
    * standard two-stage serving shape: a compressed/coarse index produces
    * a `shortlist` of candidates per query (rows carrying `q_id`, `c_id`),
    * raw vectors are fetched ONLY for those pairs and re-scored with the
    * exact rounded cosine, top `k` kept. Removes the compressed index's
    * METRIC distortion entirely (ADC/SQ quantization error) — recall
    * becomes bounded by shortlist coverage alone, which is the half of
    * the gap the shortlist size controls.
    *
    * At 100 TB the raw-vector fetch is a |queries|·shortlistK-row join
    * against the corpus — bounded by the query set, never corpus-shaped;
    * the compressed index remains the only thing the full corpus scan
    * ever touched. Same scoring/tiebreak contract as [[cosineTopK]]. */
  def rerankExact(shortlist: DataFrame, queries: DataFrame,
                  corpus: DataFrame, idCol: String, embCol: String,
                  k: Int): DataFrame =
    rankByCosine(shortlist.select(col("q_id"), col("c_id")).distinct()
      .join(normed(queries, idCol, embCol, "q"), "q_id")
      .join(normed(corpus, idCol, embCol, "c"), "c_id"), k)

  /** Multi-probe LSH approximate top-k (Lv et al., VLDB 2007): candidates
    * share EITHER the query's base bucket or one of its `probes − 1` best
    * single-bit-flip neighbor buckets in any of `tables` hash tables, then
    * exact cosine rank within candidates — same scoring/ranking contract as
    * [[lshTopK]] (`probes = 1` IS lshTopK).
    *
    * This is the recall lever that is cheap at 100 TB: extra TABLES
    * replicate the CORPUS side of the (tbl, bucket) equi-join — `tables`×
    * the index storage and shuffle volume — while extra PROBES only
    * replicate the bounded QUERY side (probes× a few hundred rows). The
    * corpus memberships here are identical to lshTopK's, so one persisted
    * bucket index serves both operators; recall per table rises from
    * P(all nBits signs agree) to P(≥ nBits−1 of the low-margin signs
    * agree), which is what moves recall@10 without touching index cost. */
  def lshMultiProbeTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                        embCol: String, k: Int, nBits: Int, dim: Int,
                        tables: Int = 4, probes: Int = 3): DataFrame =
    lshRank(queries, corpus, idCol, embCol, k, nBits, dim, tables,
      multiProbeMemberships(col(embCol), nBits, tables, dim, probes))

  /** SemDeDup — semantic deduplication via clustered embeddings (Abbas et
    * al., arXiv:2303.09540): k-means the corpus embeddings, then search for
    * near-duplicates ONLY within each cluster, dropping every member that
    * has a same-cluster neighbor with cosine ≥ `tau` and a smaller id. The
    * cluster step is what makes semantic dedup tractable — pair volume is
    * Σ|cluster|², not n², and `k` is the knob that bounds it at corpus
    * scale (raise k until the largest cluster's pair count fits a task).
    *
    * Engine-portable Lloyd's: embeddings are quantized to integer grids
    * (`round(e · quantScale)` as long), so every distance is EXACT integer
    * arithmetic and every centroid update is an exact integer sum with one
    * floor-division — no float summation-order drift anywhere, which is
    * what lets a SQL engine replay the entire iteration trace bit-for-bit
    * (same trick as the portable IVF router, see [[ivfTopKSeeded]]; the
    * final cosine check reuses the q42/q95 rounded-double formula).
    * Init = the `k` lowest-id vectors (distributed TopK, k-row collect);
    * per-iteration state is k×dim longs on the driver — broadcast-sized at
    * any corpus scale, the standard Lloyd's-on-Spark shape. Assignment
    * ties break toward the lowest centroid index; centroids that lose all
    * members drop out (both replayed identically in SQL).
    *
    * Output: (id, cluster, is_dup). `iters` centroid updates run, with a
    * final assignment after the last update.
    *
    * Candidate generation inside a cluster has two forms. With
    * `bandedDim = Some(dim)` (the production path) pairs must ALSO agree
    * on ≥1 band of the same portable sign-bit signature that powers
    * [[cosineNearDupPairs]], so the per-cluster search is a
    * (cluster, band, bits) equi-join — candidate volume per doc is
    * ~ bands × |cluster| / 2^(nBits/bands), never |cluster|²/2. That is
    * the piece the SemDeDup paper leaves to faiss: at 100 TB a cluster is
    * still millions of rows even at a data-scaled k, and an unbanded
    * within-cluster self-join is a quadratic blowup. With
    * `bandedDim = None` the exact all-pairs form runs — the
    * oracle/verification twin, only for bounded inputs.
    *
    * `bandProbe1 = true` additionally probes, on ONE side of the
    * within-cluster self-join, every single-bit-flip neighbor bucket of
    * each band ([[bandedPairs]]' `probeA`) — pairs within Hamming
    * distance 1 of agreeing on a band become candidates, the multi-probe
    * recall lever at (w+1)× probe-side candidate volume and UNCHANGED
    * blocked-side/index cost. The banded dup set grows monotonically
    * (candidate superset), never past the exact twin's.
    *
    * `targetClusterRows > 0` wires the scaladoc's "raise k with the
    * corpus" knob INTO the operator: the effective cluster count becomes
    * `max(k, ceil(n / targetClusterRows))` (n from one count job), so
    * expected cluster size — and with it the within-cluster candidate
    * volume per doc — stays CONSTANT as the corpus grows instead of
    * growing linearly (the fixed-k mode's superlinear pair blowup, the
    * suite's one >1.0 exponent in rounds 15–16). The derived k is a plan
    * literal per (corpus, target), so the Lloyd trace stays exactly
    * replayable by a SQL oracle computing the same greatest/ceil. k keeps
    * its role as the FLOOR (fixture-stable below k·target rows). At
    * extreme scale the k·n assignment cost of flat Lloyd's is the next
    * binding constraint — the standard answer is hierarchical k-means
    * (route to √k super-clusters, then k/√k within each), which composes
    * from this same operator applied per super-cluster. */
  def semDedup(df: DataFrame, idCol: String, embCol: String, k: Int,
               iters: Int, tau: Double, quantScale: Int = 1000,
               bandedDim: Option[Int] = None, nBits: Int = 24,
               bands: Int = 4, bandProbe1: Boolean = false,
               targetClusterRows: Int = 0): DataFrame = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val kEff =
      if (targetClusterRows <= 0) k
      else math.max(k.toLong,
        (df.count() + targetClusterRows - 1L) / targetClusterRows).toInt
    val q = df.select(col(idCol), col(embCol), expr(
      s"transform($embCol, e -> CAST(round(CAST(e AS DOUBLE) * $quantScale)" +
        " AS BIGINT))").as("__qe"))

    // Assignment = centroids as broadcast DATA, not plan literals: an
    // always-true constant-key equi-join (BroadcastHashJoin, k-row build
    // side) streams k centroid rows past every vector, the quantized
    // distance is the codegen'd [[graft.plans.LongSqDist]] primitive loop
    // (the declarative aggregate/zip_with fold allocates an array per
    // evaluation and runs interpreted — at a data-derived k the n·k
    // distance evaluations made it the lane's dominant cost), and the
    // per-vector argmin is min(struct(d, j)) — lexicographic, ties toward
    // the lower centroid index, exact integers, partial-aggregated
    // map-side so the shuffle carries n rows, never n·k. The earlier
    // plan-literal array_min form compiled a k·dim-literal expression —
    // codegen falls over past ~a few thousand literals. Plan size is now
    // O(1) in k; the remaining n·k distance work is Lloyd's own
    // arithmetic, one primitive loop per (vector, centroid).
    def assignFrame(cents: Seq[(Int, Array[Long])]): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val centDf = cents.map { case (j, ce) => (j, ce.toSeq) }
        .toDF("__j", "__ce")
      q.select(col(idCol), col("__qe")).withColumn("__one", lit(1))
        .join(broadcast(centDf.withColumn("__one", lit(1))), "__one")
        .withColumn("__d", graft.plans.LongSqDist(col("__qe"), col("__ce")))
        .groupBy(col(idCol))
        .agg(min(struct(col("__d"), col("__j"))).as("__m"))
        .select(col(idCol), col("__m.__j").as("__cl"))
    }

    // Init: kEff lowest ids via distributed TopK; kEff rows collected
    // (bounded driver state by contract, like seededRows' pick).
    var centroids: Seq[(Int, Array[Long])] = q
      .select(col(idCol), col("__qe")).sort(col(idCol)).limit(kEff)
      .collect().zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Long](1).toArray) }.toSeq

    for (_ <- 0 until iters) {
      // One narrow assignment + one (cluster, dim) agg per iteration; the
      // k×dim partial sums collapse map-side before the k-row collect.
      centroids = assignFrame(centroids)
        .join(q.select(col(idCol), col("__qe")), Seq(idCol))
        .select(col("__cl"), posexplode(col("__qe")).as(Seq("__d", "__v")))
        .groupBy(col("__cl"), col("__d"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .groupBy(col("__cl"))
        .agg(sort_array(collect_list(
          struct(col("__d"), col("__s"), col("__n")))).as("dims"))
        .collect()
        .map { r =>
          val dims = r.getSeq[org.apache.spark.sql.Row](1)
          (r.getInt(0), dims.map(d =>
            math.floor(d.getLong(1).toDouble / d.getLong(2)).toLong).toArray)
        }.sortBy(_._1).toSeq
    }

    // Final assignment is evaluated ONCE into a narrow (id, cluster)
    // frame and joined back: `fin` fans out to several consumers below
    // (bucket explode, probe explode, both sides of the cosine join, the
    // final select), and without materialization each one would re-run
    // the n·k argmin over its whole input. The checkpoint holds ids +
    // one int each — corpus-narrow at any scale; blocks are released by
    // the caller's session hygiene like every checkpointed lane.
    val assigned = assignFrame(centroids)
      .select(col(idCol), col("__cl").as("cluster"))
      .localCheckpoint()
    val fin = q.join(assigned, Seq(idCol))
    val cand = bandedDim match {
      case Some(dim) =>
        // production path: candidates agree on cluster AND ≥1 signature
        // band — the same (band, bits) blocking as cosineNearDupPairs,
        // narrowed by the cluster key, so no unbanded self-join exists;
        // the q side may add radius-1 flips, the c side keeps base
        // memberships
        bandedPairs(fin, fin, idCol, embCol, dim, nBits, bands,
            probeA = bandProbe1, key = Some("cluster"))
          .where(col("c_id") < col("q_id"))
          .join(normed(fin, idCol, embCol, "q"), "q_id")
          .join(normed(fin, idCol, embCol, "c"), "c_id")
      case None =>
        // exact all-pairs twin: bounded inputs only (oracle verification)
        normed(fin, idCol, embCol, "q", col("cluster"))
          .join(normed(fin, idCol, embCol, "c", col("cluster")), Seq("cluster"))
          .where(col("c_id") < col("q_id"))
    }
    val dups = cand
      .where(round(pairCosine, 4) >= tau)
      .select(col("q_id").as("id_a")).distinct()
      .withColumn("__dup", lit(true))
    fin.select(col(idCol), col("cluster").cast("long").as("cluster"))
      .join(dups, col(idCol) === col("id_a"), "left")
      .withColumn("is_dup", coalesce(col("__dup"), lit(false)))
      .select(col(idCol), col("cluster"), col("is_dup"))
  }

  /** Element-wise mean embedding per group — the pooling primitive behind
    * "late chunking" (chunk embeddings → one document vector), class
    * centroids, and per-domain embedding profiles. The naive
    * `avg(e_d) over group` is ORDER-DEPENDENT on floats (partial sums
    * combine in shuffle arrival order, so reruns drift in the last ulp);
    * here each value is quantized to an integer grid
    * (`round(e·quantScale)` as long — the same portable trick as
    * [[semDedup]]'s Lloyd's state), summed EXACTLY as longs, and divided
    * once at the end: `(Σq / n) / quantScale` — two IEEE divisions in a
    * fixed order, bit-identical on any engine and any partitioning.
    *
    * Scale: one posexplode (dim× row growth, map-side) into one
    * (group, dim) partial-aggregated shuffle, then a per-group collapse to
    * the sorted centroid array — state per group is dim longs. No
    * collects, no windows. Output: (group, n_members, centroid). */
  def pooledCentroids(df: DataFrame, groupCol: String, embCol: String,
                      quantScale: Int = 1000000): DataFrame = {
    require(quantScale >= 1, "quantScale must be >= 1")
    val qe = expr(s"transform($embCol, e -> CAST(round(CAST(e AS DOUBLE) * " +
      s"$quantScale) AS BIGINT))")
    df.select(col(groupCol), posexplode(qe).as(Seq("__d", "__q")))
      .groupBy(col(groupCol), col("__d"))
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(max(col("__n")).as("n_members"),
        array_sort(collect_list(struct(col("__d"), col("__s"), col("__n"))))
          .as("__dims"))
      .select(col(groupCol), col("n_members"),
        transform(col("__dims"), s =>
          s.getField("__s").cast("double") / s.getField("__n") / quantScale)
          .as("centroid"))
  }
}
