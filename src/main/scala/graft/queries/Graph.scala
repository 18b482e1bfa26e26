package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Dedup
import Query.t

/** Link-graph queries over the md5-derived edges of `documents`. */
object Graph {
  /** The shared md5-derived synthetic link graph of q_pagerank / q_hits /
    * q_link_stats: each doc links to the 3 docs whose ids are
    * md5-48(doc_id#j) mod N. N is a broadcast 1-row count riding INSIDE
    * the plan (pmod by the count column is the identical arithmetic to the
    * previous pmod-by-literal; the driver-side docs.count() it replaces
    * was one full sequential driver job per graph query). */
  private def md5Edges(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"))
    docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
      .select(col("doc_id").as("src"),
        explode(array((0 to 2).map { j =>
          pmod(Dedup.md5Hash48(concat(col("doc_id").cast("string"), lit(s"#$j"))), col("__n"))
        }: _*)).as("dst"))
  }

  /** Unrolled exact-integer PageRank iterations over CTEs `e` (src, dst),
    * `nodes`, `nn` (n), `odeg` — the recurrence of
    * [[graft.graph.PageRank.pageRank]] verbatim (K = 2⁵⁰, d = 17/20).
    * HUGEINT-safe: the inflow sum widens, the final r casts back. */
  private def pagerankSql(iters: Int): String = {
    val K = "1125899906842624" // 2^50 — same grid as PageRank's default
    val sb = new StringBuilder
    sb ++= s"r0 AS MATERIALIZED (SELECT node, $K // n AS r FROM nodes CROSS JOIN nn),\n"
    for (t <- 1 to iters) {
      sb ++=
        s"""r$t AS MATERIALIZED (
           |  SELECT nodes.node, CAST((3 * $K) // (20 * nn.n)
           |      + (17 * coalesce(inf.s, 0)) // 20 AS BIGINT) AS r
           |  FROM nodes CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS node, sum(r${t - 1}.r // odeg.odeg) AS s
           |    FROM e JOIN r${t - 1} ON r${t - 1}.node = e.src
           |    JOIN odeg ON odeg.src = e.src
           |    GROUP BY e.dst) inf ON inf.node = nodes.node)""".stripMargin
      if (t < iters) sb ++= ",\n"
    }
    sb.result()
  }

  /** Unrolled exact-integer HITS iterations over CTEs `e` (src, dst) and
    * `nodes` — the recurrence of [[graft.graph.PageRank.hits]] verbatim:
    * per half-step, BIGINT inflow sums, shift = #{k ≥ 0 : max ≥ 2^(s+k)}
    * (== bitlen(max) − s clamped at 0), and `//` by the exact 2^shift
    * literal (floor division of non-negatives == shiftright). */
  private def hitsSql(iters: Int, scaleBits: Int): String = {
    val maxShift = 62 - scaleBits
    def shiftSum(mx: String): String =
      (0 to maxShift).map(k =>
        s"(CASE WHEN $mx >= ${java.math.BigInteger.ONE.shiftLeft(scaleBits + k)} THEN 1 ELSE 0 END)")
        .mkString(" + ")
    def divCase(sh: String): String =
      "CASE " + (0 to maxShift).map(k => s"WHEN $sh = $k THEN ${1L << k}").mkString(" ") + " END"
    val sb = new StringBuilder
    sb ++= s"h0 AS MATERIALIZED (SELECT node, ${1L << scaleBits} AS s FROM nodes),\n"
    for (t <- 1 to iters) {
      def half(out: String, in: String, from: String, to: String): Unit = {
        sb ++=
          s"""${out}raw AS MATERIALIZED (
             |  SELECT e.$to AS node, CAST(sum($in.s) AS BIGINT) AS raw
             |  FROM e JOIN $in ON $in.node = e.$from GROUP BY e.$to),
             |${out}sh AS MATERIALIZED (
             |  SELECT (${shiftSum("mx")}) AS sh
             |  FROM (SELECT max(raw) AS mx FROM ${out}raw) q),
             |$out AS MATERIALIZED (
             |  SELECT nodes.node,
             |    coalesce(${out}raw.raw, 0) // (${divCase(s"${out}sh.sh")}) AS s
             |  FROM nodes LEFT JOIN ${out}raw USING (node) CROSS JOIN ${out}sh)""".stripMargin
      }
      half(s"a$t", s"h${t - 1}", "src", "dst")
      sb ++= ",\n"
      half(s"h$t", s"a$t", "dst", "src")
      if (t < iters) sb ++= ",\n"
    }
    sb.result()
  }

  val all: Seq[Query] = Seq(
    // link-graph centrality (exact-integer PageRank, 3 iterations) over a
    // deterministic synthetic link graph: each doc links to the 3 docs
    // whose ids are md5-48(doc_id#j) mod N — the same edges and the same
    // integer recurrence replayed by unrolled DuckDB CTEs. N rides into
    // the plan as a broadcast 1-row count (same pmod arithmetic as the
    // previous driver-side count literal — one sequential driver job
    // fewer per graph query, the measured floor of this family)
    Query("q_pagerank", (s, dir) => {
      graft.graph.PageRank.pageRank(md5Edges(t(s, dir, "documents")), "src", "dst", iters = 3)
        .select(col("node").as("doc_id"), col("rank_scaled"),
          round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }, Some(
      // exact-integer PageRank over the md5-derived link graph: identical
      // edges, identical recurrence, 3 unrolled iterations
      s"""WITH e AS MATERIALIZED (
         |  SELECT doc_id AS src,
         |    (CAST(list_sum(list_transform(range(1, 13),
         |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), CAST(k AS INT), 1)) - 1)
         |            * pow(16, 12 - k))) AS BIGINT)
         |     % (SELECT count(*) FROM documents)) AS dst
         |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) u),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |odeg AS MATERIALIZED (SELECT src, count(*) AS odeg FROM e GROUP BY src),
         |${pagerankSql(3)}
         |SELECT node AS doc_id, r AS rank_scaled,
         |  round(CAST(r AS DOUBLE) / 1125899906842624, 6) AS rank
         |FROM r3 ORDER BY doc_id""".stripMargin)),
    // HITS hubs/authorities: exact-integer downshift normalization over
    // the q_pagerank edge fixture — the same integer comparisons and
    // divisions unrolled in SQL. The per-half-step downshift rides the
    // plan as a broadcast scalar (zero driver actions in the loop)
    Query("q_hits", (s, dir) => {
      graft.graph.PageRank.hits(md5Edges(t(s, dir, "documents")), "src", "dst",
        iters = 3, scaleBits = 40)
        .orderBy("node")
    }, Some(
      // exact-integer HITS over the md5-derived link graph: identical sums,
      // shifts and divisions, 3 unrolled iterations
      s"""WITH e AS MATERIALIZED (
         |  SELECT doc_id AS src,
         |    (CAST(list_sum(list_transform(range(1, 13),
         |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), CAST(k AS INT), 1)) - 1)
         |            * pow(16, 12 - k))) AS BIGINT)
         |     % (SELECT count(*) FROM documents)) AS dst
         |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) u),
         |${hitsSql(3, 40)}
         |SELECT h3.node, h3.s AS hub_scaled, a3.s AS auth_scaled
         |FROM h3 JOIN a3 USING (node) ORDER BY node""".stripMargin)),
    // per-node link statistics over the same md5-derived edge fixture as
    // q_pagerank: degrees, distinct neighbors, reciprocal links
    Query("q_link_stats", (s, dir) => {
      graft.graph.PageRank.linkStats(md5Edges(t(s, dir, "documents")), "src", "dst")
        .orderBy("node")
    }, Some(
      // link stats over the q_pagerank edge fixture: degrees, distinct
      // neighbors, reciprocal distinct links
      s"""WITH e AS MATERIALIZED (
         |  SELECT doc_id AS src,
         |    (CAST(list_sum(list_transform(range(1, 13),
         |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), CAST(k AS INT), 1)) - 1)
         |            * pow(16, 12 - k))) AS BIGINT)
         |     % (SELECT count(*) FROM documents)) AS dst
         |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |de AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM de UNION ALL SELECT dst AS node FROM de) u),
         |outs AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS oe FROM e GROUP BY 1),
         |ins AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS ie FROM e GROUP BY 1),
         |douts AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od FROM de GROUP BY 1),
         |dins AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS idn FROM de GROUP BY 1),
         |recip AS (
         |  SELECT f.src AS node, CAST(count(*) AS BIGINT) AS rc
         |  FROM de f JOIN de b ON b.src = f.dst AND b.dst = f.src
         |  WHERE f.src <> f.dst GROUP BY 1)
         |SELECT nodes.node,
         |  coalesce(oe, 0) AS out_edges, coalesce(ie, 0) AS in_edges,
         |  coalesce(od, 0) AS out_distinct, coalesce(idn, 0) AS in_distinct,
         |  coalesce(rc, 0) AS reciprocal
         |FROM nodes
         |LEFT JOIN outs USING (node) LEFT JOIN ins USING (node)
         |LEFT JOIN douts USING (node) LEFT JOIN dins USING (node)
         |LEFT JOIN recip USING (node)
         |ORDER BY node""".stripMargin))
  )
}
