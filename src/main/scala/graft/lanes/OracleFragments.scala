package graft
package lanes

/** Oracle CTEs that lanes of several families share, each stated once.
  * Every fragment is whole CTEs, margin-stripped and with no line
  * that starts with `|`, so an oracle can interpolate it into an
  * `s"""...""".stripMargin` literal. */
private[lanes] object OracleFragments {

  /** `reach(v, c)`: every vertex of the symmetric edge relation `sym(a, b)`
    * paired with each vertex it reaches, so `min(c)` per `v` is its
    * connected component. Needs `WITH RECURSIVE`. */
  val ccReach: String =
    """reach(v, c) AS (
      |  SELECT a AS v, a AS c FROM sym
      |  UNION
      |  SELECT sym.a AS v, reach.c FROM sym JOIN reach ON sym.b = reach.v)""".stripMargin

  /** `words(doc_id, wl)`: each document's lower-cased whitespace words,
    * then `sh(doc_id, shingle)`: its distinct word 3-shingles. */
  val wordShingles3: String =
    """words AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS wl
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] AS shingle
      |  FROM words, unnest(range(1, len(wl) - 1)) t(i)
      |  WHERE len(wl) >= 3)""".stripMargin

  /** `signs(<v>, sv)`: planes `<v>` in `[0, nPlanes)` of 64 ±1
    * components each, sign(v, d) = +1 iff hex60(md5("v_d")) is even — the
    * matrix `Similarity.rademacherPlanes` builds. */
  def planeSigns(v: String, nPlanes: Int): String =
    s"""signs AS (
      |  SELECT $v, list_transform(range(0, 64), d ->
      |    CASE WHEN ('0x' || substr(md5($v::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT
      |           % 2 = 0
      |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS sv
      |  FROM range(0, $nPlanes) t($v))""".stripMargin

  /** `norms(vec_id, embedding, n)`: every embedding with its L2 norm. */
  val embeddingNorms: String =
    """norms AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) AS n
      |  FROM embeddings)""".stripMargin

  /** `proj(vec_id, i, p)`: every embedding projected on every plane of
    * `signs(i, sv)` ([[planeSigns]] with `v` = "i"). */
  val planeProjections: String =
    """proj AS (
      |  SELECT e.vec_id, s.i,
      |    list_sum(list_transform(list_zip(e.embedding, s.sv),
      |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS p
      |  FROM embeddings e CROSS JOIN signs s)""".stripMargin

  /** `monthly(l_suppkey, ship_month, month_rev)`: each supplier's revenue
    * per shipping month, the month a TIMESTAMP as Spark's `date_trunc`
    * returns it. */
  val supplierMonthlyRevenue: String =
    """monthly AS (
      |  SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      |    round(sum(l_extendedprice), 2) AS month_rev
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin
}
