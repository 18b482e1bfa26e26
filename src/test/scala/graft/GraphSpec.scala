package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.PageRank

/** Exact-integer PageRank: local replay, parallelism invariance, dangling
  * and multigraph semantics. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Local replay of the documented integer recurrence. */
  private def localPr(
      edges: Seq[(Long, Long)], iters: Int, scaleBits: Int): Map[Long, Long] = {
    val k = 1L << scaleBits
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (3L * k) / (20L * n)
    var r = nodes.map(_ -> k / n).toMap
    for (_ <- 1 to iters) {
      val inflow = edges
        .map { case (s, d) => d -> r(s) / odeg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = nodes.map(v => v -> (base + 17L * inflow.getOrElse(v, 0L) / 20L)).toMap
    }
    r
  }

  val edges: Seq[(Long, Long)] = Seq(
    (0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (3L, 2L), // multi-edge 3->2
    (4L, 0L), (2L, 5L)) // 5 is dangling (no out-edges)

  test("pageRank == local integer replay bit-for-bit; parallelism-invariant") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val h = new graft.runtime.CacheHandle
    def run(parts: Int): Map[Long, Long] =
      PageRank.pageRank(edges.toDF("s", "d").repartition(parts), "s", "d",
        iters = 4, scaleBits = 40, handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(1)
    assert(got == run(9), "ranks must be bit-identical at any parallelism")
    val expect = localPr(edges, 4, 40)
    assert(got == expect, s"got $got, expected $expect")
    // the hub (node 2: three in-edges incl. a doubled one) outranks everyone
    assert(got(2L) == got.values.max)
    // dangling node 5 receives but never emits; it still holds rank
    assert(got(5L) > 0L)
    h.release()
    // the session is shared across suites: assert only OUR caches are gone
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before),
      "handle released all pageRank caches")
  }

  test("pageRank hot-hub salting: bit-identical on a 100k-out-degree source at any parallelism") {
    // one hub (node 0) with 100k out-edges — the non-web shape (follower
    // graph) whose src-partitioned edge cache would otherwise put every
    // hub edge in ONE partition, beyond AQE skew-splitting's reach. With
    // hotSourceDegree below the hub's degree the salted path activates;
    // results must stay bit-identical to the local integer replay (the
    // salted rank replica is exact: r div odeg is identical per edge).
    val hub: Seq[(Long, Long)] =
      (1L to 100000L).map(d => (0L, d)) ++ Seq((5L, 0L), (7L, 5L), (7L, 0L))
    val h = new graft.runtime.CacheHandle
    def run(parts: Int): Map[Long, Long] =
      PageRank.pageRank(hub.toDF("s", "d").repartition(parts), "s", "d",
        iters = 2, scaleBits = 40, handle = h, hotSourceDegree = 1000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(3)
    assert(got == run(17), "salted ranks must be bit-identical at any parallelism")
    val expect = localPr(hub, 2, 40)
    assert(got == expect, "salted ranks must equal the unsalted integer replay")
    h.release()
  }

  /** Local replay of the integer HITS recurrence (downshift normalization). */
  private def localHits(
      edges: Seq[(Long, Long)], iters: Int, s: Int): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def shift(mx: Long): Int =
      math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(mx)) - s)
    def half(scores: Map[Long, Long], along: Seq[(Long, Long)]): Map[Long, Long] = {
      val raw = along.groupBy(_._2).map { case (to, es) =>
        to -> es.map(e => scores(e._1)).sum
      }
      val sh = shift(raw.values.max)
      nodes.map(v => v -> (raw.getOrElse(v, 0L) >> sh)).toMap
    }
    var hub = nodes.map(_ -> (1L << s)).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      auth = half(hub, edges)                        // along u→v
      hub = half(auth, edges.map { case (u, v) => (v, u) }) // back v→u
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits == local integer replay bit-for-bit; parallelism-invariant; hub/auth separation") {
    val h = new graft.runtime.CacheHandle
    def run(parts: Int): Map[Long, (Long, Long)] =
      PageRank.hits(edges.toDF("s", "d").repartition(parts), "s", "d",
        iters = 3, scaleBits = 40, handle = h)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = run(1)
    assert(got == run(9), "scores must be bit-identical at any parallelism")
    val expect = localHits(edges, 3, 40)
    assert(got == expect, s"got $got, expected $expect")
    // node 2 (three in-links incl. the doubled 3->2) is the top authority;
    // node 3 (two links into the top authority) is the top hub
    assert(got(2L)._2 == got.values.map(_._2).max, "top authority")
    assert(got(3L)._1 == got.values.map(_._1).max, "top hub")
    // dangling node 5 emits nothing: hub 0
    assert(got(5L)._1 == 0L)
    h.release()
    intercept[IllegalArgumentException] {
      PageRank.hits(edges.toDF("s", "d"), "s", "d", iters = 0)
    }
  }

  test("linkStats: hand-computed degrees, multi-edge collapse, reciprocity, self-loop rule") {
    val h = new graft.runtime.CacheHandle
    // edges fixture: 3->2 doubled; reciprocal pair 0<->2; plus a 4->4
    // self-loop (counts in degrees, excluded from reciprocity)
    val got = PageRank.linkStats((edges :+ (4L, 4L)).toDF("s", "d"), "s", "d", h)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    h.release()
    // node -> (out_edges, in_edges, out_distinct, in_distinct, reciprocal)
    assert(got(0L) == ((2L, 2L, 2L, 2L, 1L)), got(0L).toString)   // 0->2 & 2->0 mutual
    assert(got(2L) == ((2L, 4L, 2L, 3L, 1L)), got(2L).toString)   // in: 0,1,3,3; distinct 3
    assert(got(3L) == ((2L, 0L, 1L, 0L, 0L)), got(3L).toString)   // doubled 3->2 collapses
    assert(got(5L) == ((0L, 1L, 0L, 1L, 0L)), got(5L).toString)   // dangling sink
    assert(got(4L) == ((2L, 1L, 2L, 1L, 0L)), got(4L).toString)   // self-loop: degrees yes, reciprocity no
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L), "every node appears once")
  }

  test("pageRank contracts: empty graph, negative ids, grid overflow abort") {
    val h = new graft.runtime.CacheHandle
    intercept[IllegalArgumentException] {
      PageRank.pageRank(Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d", 1, handle = h)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(Seq((-1L, 2L)).toDF("s", "d"), "s", "d", 1, handle = h)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(edges.toDF("s", "d"), "s", "d", 1, scaleBits = 2, handle = h)
    }
    h.release()
  }
}
