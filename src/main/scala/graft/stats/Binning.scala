package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Discretization strategies for numeric columns.
  *
  * The reference delegates to FSelectorRcpp/praznik internals
  * (/root/reference/R/step_select_infgain.R:140–150 `equal`, `nbins`;
  * README.md:27–35: continuous outcomes are equal-frequency binned, default
  * nbins = 5). We expose binning as an explicit strategy:
  *
  *  - [[ntileBins]]  — exact rank-based equal-frequency (SQL NTILE), used
  *    where oracle parity matters. Ties are broken by an explicit unique
  *    tiebreak column so the assignment is deterministic and identical across
  *    engines. NOTE: the rank window runs per feature over DISTINCT values
  *    (tiny for binned/low-cardinality inputs, its regime); near-unique
  *    columns should use the two-phase bucketed build, [[Ranks.midranks]].
  *  - [[exactCuts]] + [[binByCuts]] — compute exact quantile cut points
  *    (one distributed pass, relativeError = 0), then bin by value
  *    comparison against the collected cuts. Fully scalable: no global sort,
  *    pure map-side `when` chain. Rows tied at a cut point all land in the
  *    lower bin (deterministic).
  *  - [[quantileSplit]] — the reference's FCBF discretize_var
  *    (/root/reference/R/step_select_fcbf.R:256–270): values <= type-7
  *    quantile (the median by default) → 'l', above → 'h', NULL stays NULL
  *    (tests: /root/reference/tests/testthat/test_discretize_var.R:1–13).
  */
object Binning {

  /** Exact equal-frequency bin ids 1..nbins per feature over long form
    * (feature, value, ...). Null values get null bins. `tiebreak` must be a
    * unique-per-row column for deterministic tie assignment.
    *
    * Exactly SQL NTILE over (PARTITION BY feature ORDER BY value, tiebreak)
    * but WITHOUT the single-partition-per-feature row sort: the global rank
    * is decomposed into (rows before this value) — a window over the
    * per-value COUNTS table, |distinct values| rows — plus a row_number
    * within the (feature, value) tie group. NTILE's bucket arithmetic
    * (first n mod k buckets get one extra row) is then closed-form.
    */
  def ntileBins(long0: DataFrame, nbins: Int, tiebreak: Column, outCol: String = "bin",
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle): DataFrame = {
    // CACHED input: the melted long form is referenced three times (counts
    // aggregation, the ranked row join, and the null-bin union) and
    // Catalyst re-executes every re-referenced subtree — uncached, the
    // upstream scan+melt ran 3x inside one action. Default handle =
    // session-LRU (the registered-query convention).
    val long = handle.track(long0.cache())
    val nn = long.where(col("value").isNotNull)
    val counts = nn.groupBy("feature", "value").agg(count(lit(1)).as("__cnt"))
    val wv = Window.partitionBy("feature").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = Window.partitionBy("feature")
    // __before and __n in ONE window pass over the counts table — a second
    // aggregation would re-execute the whole upstream scan (Catalyst does
    // not share re-referenced subtrees). Round-6 measurement: the
    // two-phase bucketed prefix (Ranks.midranks) was
    // tried here and REVERTED — the entropy-path inputs are binned/
    // low-cardinality, so the counts table is tiny and the per-feature
    // window trivial; the extra checkpoint+exchanges cost ~0.4 s flat.
    // For near-unique columns (where the serial window IS the hazard)
    // use Ranks.midranks.
    val cumTable = counts.select(
      col("feature").as("__f"), col("value").as("__v"),
      coalesce(sum("__cnt").over(wv), lit(0L)).as("__before"),
      sum("__cnt").over(wf).as("__n"))
    val wt = Window.partitionBy(col("feature"), col("value")).orderBy(tiebreak)
    val ranked = nn
      .withColumn("__rnw", row_number().over(wt))
      .join(cumTable, col("feature") === col("__f") && col("value") === col("__v"))
      .withColumn("__rank", col("__before") + col("__rnw"))
    val size = floor(col("__n") / nbins)
    val rem = col("__n") % nbins
    val boundary = rem * (size + 1)
    val bucket = when(col("__rank") <= boundary, floor((col("__rank") - 1) / (size + 1)) + 1)
      .otherwise(rem + floor((col("__rank") - boundary - 1) / size) + 1)
    val withBin = ranked
      .withColumn(outCol, bucket.cast("int"))
      .drop("__f", "__v", "__before", "__n", "__rnw", "__rank")
    val nulls = long.where(col("value").isNull)
      .withColumn(outCol, lit(null).cast("int"))
    withBin.unionByName(nulls)
  }

  /** Exact order statistics for many columns × probabilities at once, by
    * BRACKET REFINEMENT — replaces approxQuantile(relativeError = 0) and
    * the percentile() aggregate on the fit hot paths, both of which buffer
    * EVERY value (per task, then again in a driver-side merge) and were
    * the dominant cost of the mRMR/FCBF fits under profiling.
    *
    * Three cheap, fully-parallel jobs, none of which shuffles data volume:
    *  1. approxQuantile at err = `bracketErr` brackets each target by value
    *     ([vLo, vHi] with the Greenwald–Khanna rank guarantee
    *     rank(v) ∈ (p ± err)·n, probed at p ∓ 2·err);
    *  2. ONE fused aggregation: per column its non-null count and, per
    *     bracket, the exact count of values strictly below vLo;
    *  3. a groupBy over ONLY the in-bracket values (≲ 4·err·n rows before
    *     tie-collapsing) → (column, value, count), collected small.
    * The exact rank k = `ranksOf(n, p)` is then picked driver-side by
    * cumulating from the below-count through the sorted in-bracket values.
    *
    * At any n the driver transfer is the bracket's DISTINCT values; the
    * guard aborts (with a hint) if a pathological value distribution would
    * exceed `maxCollect` — bounded BEFORE the transfer, TwoPhase-style.
    * NA handling is PER COLUMN — a null/NaN in one column must not remove
    * the row from another column's statistics (R quantile(na.rm=TRUE)
    * semantics; approxQuantile ignores null/NaN the same way). With
    * `nanAsLargest` the counted population additionally includes NaN
    * values sorted LAST — Spark's `percentile()` ordering — so callers
    * pinned to that aggregate keep its semantics: a rank that lands in
    * the NaN tail picks NaN (never collected, resolved arithmetically
    * from the per-column NaN count).
    *
    * `ranksOf(n, p)` must return ranks within the p-bracket, i.e. in
    * [(p−err)·n − 1, (p+err)·n + 1] — true for quantile_disc's ceil(p·n)
    * and type-7's floor/ceil(p·(n−1))+1 whenever err·n ≥ 2; tiny n is
    * covered by the widened clamp in the prob list. */
  private def orderStatistics(
      df: DataFrame, cols: Seq[String], probs: Seq[Double],
      ranksOf: (Long, Double) => Seq[Long],
      bracketErr: Double = 0.001, maxCollect: Int = 200000,
      nanAsLargest: Boolean = false
  ): Map[String, (Long, Map[Long, Double])] = {
    if (cols.isEmpty) return Map.empty
    val pr = probs.distinct
    // widen each probe so the bracket always contains the target ranks,
    // even at tiny n where ±2·err·n < a whole rank
    val loHiProbs = pr.flatMap(p =>
      Seq(math.max(0.0, p - 2 * bracketErr), math.min(1.0, p + 2 * bracketErr)))
    val br = df.stat.approxQuantile(cols.toArray, loHiProbs.toArray, bracketErr)
    val bracket: Map[(String, Double), (Double, Double)] = cols.zipWithIndex.flatMap {
      case (c, ci) =>
        pr.zipWithIndex.flatMap { case (p, pi) =>
          if (br(ci).isEmpty) None // all-null column
          else Some((c, p) -> ((br(ci)(2 * pi), br(ci)(2 * pi + 1))))
        }
    }.toMap
    def notNa(c: String) = col(c).isNotNull && !isnan(col(c).cast("double"))
    // job 2: counts + below-bracket counts, one fused scan
    val aggExprs = cols.flatMap { c =>
      count(when(notNa(c), 1)).as(s"__n_$c") +:
        count(when(col(c).isNotNull && isnan(col(c).cast("double")), 1)).as(s"__nan_$c") +:
        pr.map { p =>
          val lo = bracket.get((c, p)).map(_._1)
          sum(when(notNa(c) && lit(lo.getOrElse(0.0)) > col(c).cast("double"), 1L)
            .otherwise(0L)).as(s"__b_${pr.indexOf(p)}_$c")
        }
    }
    val aggRow = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val nonNas = cols.map(c => c -> aggRow.getLong(aggRow.fieldIndex(s"__n_$c"))).toMap
    val nans = cols.map(c => c -> aggRow.getLong(aggRow.fieldIndex(s"__nan_$c"))).toMap
    val ns = cols.map(c =>
      c -> (if (nanAsLargest) nonNas(c) + nans(c) else nonNas(c))).toMap
    val belowOf = (c: String, p: Double) =>
      aggRow.getLong(aggRow.fieldIndex(s"__b_${pr.indexOf(p)}_$c"))
    // job 3: in-bracket distinct values with counts (tie-collapsed map-side)
    val inAny = (c: String) =>
      bracket.collect { case ((`c`, _), (lo, hi)) =>
        col(c).cast("double").between(lo, hi)
      }.reduceOption(_ || _).getOrElse(lit(false))
    val ranged = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("feature"),
          when(notNa(c) && inAny(c), col(c).cast("double")).as("v"))): _*)).as("kv"))
      .select(col("kv.feature").as("feature"), col("kv.v").as("v"))
      .where(col("v").isNotNull)
      .groupBy("feature", "v").agg(count(lit(1)).as("c"))
      .limit(maxCollect + 1)
      .collect()
    require(ranged.length <= maxCollect,
      s"order-statistic brackets hold over $maxCollect distinct values — " +
        "value ties are pathologically sparse; lower bracketErr")
    val rangedByF = ranged.groupBy(_.getString(0)).map { case (f, rs) =>
      f -> rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
    }
    cols.map { c =>
      val n = ns(c)
      // walk the bracket; a miss (possible at tiny n, where ±2·err spans
      // less than a whole rank) falls back to the exact per-column path
      def tryPick(p: Double, k: Long): Option[Double] = {
        val (lo, _) = bracket((c, p))
        var cum = belowOf(c, p)
        if (cum >= k) return None
        val vals = rangedByF.getOrElse(c, Array.empty[(Double, Long)])
        var i = 0
        var out = Double.NaN
        while (i < vals.length && cum < k) {
          val (v, cnt) = vals(i)
          if (v >= lo) { cum += cnt; if (cum >= k) out = v }
          i += 1
        }
        if (cum >= k) Some(out) else None
      }
      // targeted re-bracket: the SHARED brackets probe the NaN-free
      // distribution at the caller's p, but with nanAsLargest a NaN-skewed
      // column's rank k = p·(nonNa+nan) sits at the HIGHER quantile
      // k/nonNa of the NaN-free values — outside the shared bracket, which
      // would otherwise dump every column like that onto the full-collect
      // fallback (unbounded for high-cardinality columns). Retry with one
      // per-(column, rank) probe at the rank's true non-NaN probability:
      // bounded work (a quantile sketch, one filtered count, a small
      // in-bracket collect), exact result.
      def rebracketPick(k: Long): Option[Double] = {
        val nn = nonNas(c)
        if (nn == 0L) return None
        val pAdj = math.min(1.0, math.max(0.0, k.toDouble / nn))
        val probes = Array(math.max(0.0, pAdj - 2 * bracketErr), math.min(1.0, pAdj + 2 * bracketErr))
        val lohi = df.stat.approxQuantile(c, probes, bracketErr)
        if (lohi.length < 2) return None
        val (lo2, hi2) = (lohi(0), lohi(1))
        val below = df.where(notNa(c) && col(c).cast("double") < lo2).count()
        if (below >= k) return None
        val vals = df.where(notNa(c) && col(c).cast("double").between(lo2, hi2))
          .groupBy(col(c).cast("double").as("v")).agg(count(lit(1)).as("cnt"))
          .limit(maxCollect + 1).collect()
        if (vals.length > maxCollect) return None
        val sorted = vals.map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
        var cum = below
        var out = Double.NaN
        var i = 0
        while (i < sorted.length && cum < k) {
          cum += sorted(i)._2; if (cum >= k) out = sorted(i)._1; i += 1
        }
        if (cum >= k) Some(out) else None
      }
      lazy val exactAll: Array[(Double, Long)] = { // fallback: full sorted counts
        val rows = df.where(notNa(c)).select(col(c).cast("double").as("v"))
          .groupBy("v").agg(count(lit(1)).as("c"))
          .limit(maxCollect + 1).collect()
        require(rows.length <= maxCollect,
          s"order-statistic fallback for `$c` exceeds $maxCollect distinct values")
        rows.map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
      }
      def exactPick(k: Long): Double = {
        var cum = 0L; var i = 0; var out = Double.NaN
        while (i < exactAll.length && cum < k) {
          cum += exactAll(i)._2; if (cum >= k) out = exactAll(i)._1; i += 1
        }
        require(cum >= k, s"rank $k beyond the ${cum} non-null values of `$c`")
        out
      }
      val picks: Map[Long, Double] =
        if (n == 0L) Map.empty
        else pr.flatMap { p =>
          ranksOf(n, p).distinct.map { k =>
            k -> (if (nanAsLargest && k > nonNas(c)) Double.NaN
                  else tryPick(p, k).orElse(rebracketPick(k)).getOrElse(exactPick(k)))
          }
        }.toMap
      c -> ((n, picks))
    }.toMap
  }

  /** Exact quantile cut points for each column: nbins-1 interior cuts at
    * probabilities i/nbins, with approxQuantile(relativeError = 0)
    * semantics — the value whose rank is ceil(p·n) (== DuckDB
    * quantile_disc; equality with the built-in is property-pinned in
    * PropertySpec). Computed via [[orderStatistics]] in one melted pass
    * for ALL columns. */
  def exactCuts(df: DataFrame, cols: Seq[String], nbins: Int): Map[String, Array[Double]] = {
    val probs = (1 until nbins).map(_.toDouble / nbins)
    def rankDisc(n: Long, p: Double) = math.max(1L, math.ceil(p * n).toLong)
    val stats = orderStatistics(df, cols, probs, (n, p) => Seq(rankDisc(n, p)))
    cols.map { c =>
      val (n, vs) = stats(c)
      c -> (if (n == 0L) Array.empty[Double]
            else probs.map(p => vs(rankDisc(n, p))).toArray)
    }.toMap
  }

  /** Exact type-7 quantile (R default / Spark `percentile` / DuckDB
    * quantile_cont) for each column, via the SAME counts pass: position
    * h = p·(n−1) over the 0-based sorted values, interpolating
    * (higher−h)·v_lo + (h−lower)·v_hi exactly as Spark's Percentile
    * aggregate does (bit-equality property-pinned in PropertySpec),
    * INCLUDING its NaN ordering: NaN values count and sort last, so a
    * rank in the NaN tail yields NaN (an all-NaN column → Some(NaN), like
    * percentile). All-null columns → None. */
  def quantileType7(df: DataFrame, cols: Seq[String], p: Double): Map[String, Option[Double]] =
    quantileType7WithCounts(df, cols, p).view.mapValues(_._2).toMap

  /** [[quantileType7]] plus each column's non-null count — the count falls
    * out of the same fused aggregation, saving callers (FCBF's all-NULL
    * screen) a separate scan. */
  def quantileType7WithCounts(
      df: DataFrame, cols: Seq[String], p: Double): Map[String, (Long, Option[Double])] = {
    def lowHigh(n: Long): (Long, Long) = {
      val pos = p * (n - 1)
      (math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1) // 1-based ranks
    }
    val stats = orderStatistics(df, cols, Seq(p),
      (n, _) => { val (l, h) = lowHigh(n); Seq(l, h) }, nanAsLargest = true)
    cols.map { c =>
      val (n, vs) = stats(c)
      c -> ((n,
        if (n == 0L) None
        else {
          val pos = p * (n - 1)
          val (l, h) = lowHigh(n)
          val out =
            if (l == h) vs(l)
            else (h - 1 - pos) * vs(l) + (pos - (l - 1)) * vs(h)
          Some(out)
        }))
    }.toMap
  }

  /** Exact quantile_disc cuts for LARGE nbins — the MDL candidate-
    * quantization path (tens of thousands of cut candidates), where
    * [[exactCuts]]'s bracket refinement is the wrong tool: at nbins ≈ 65k
    * its probe brackets tile all of [0,1] (job 3 would collect every
    * distinct value and abort past maxCollect) and its fused aggregation
    * holds one expression per probe. Semantics are IDENTICAL to
    * [[exactCuts]] (value at rank ceil(p·n), null/NaN excluded); only the
    * mechanism differs:
    *
    *  1. per column: group by value → (v, cnt) — the one full shuffle;
    *  2. a ~`buckets`-point approxQuantile partitions the distinct values
    *     by range ([[graft.functions.SortedBucket]] binary search). The
    *     boundaries only BALANCE the buckets: every output is an exact
    *     rank, so the cuts are identical at any parallelism and for any
    *     boundary set — GK's partition-order dependence cannot leak out;
    *  3. per-bucket totals → driver cumsum → broadcast rank bases
    *     (the repo's two-phase prefix-sum pattern);
    *  4. within-bucket cumulative counts via a value-ordered window
    *     (parallel across buckets; a pathological boundary collapse makes
    *     one bucket's window large, never wrong);
    *  5. a value with cumulative range (lo, hi] carries the targets
    *     i ∈ (⌊lo·nbins/n⌋, ⌊hi·nbins/n⌋] — pure integer arithmetic
    *     (no overflow while n·nbins < 2^63), emitted via sequence+explode:
    *     the driver collects exactly the nbins−1 cut values.
    *
    * Driver transfer: boundaries + bucket totals + the cuts — bounded at
    * any n and any distinct-value count. Wide columns run sequentially
    * (the caller quantizes only columns that NEED it). */
  def exactCutsMany(
      df: DataFrame, cols: Seq[String], nbins: Int, buckets: Int = 1024
  ): Map[String, Array[Double]] = {
    require(nbins >= 2, "nbins must be >= 2")
    require(buckets >= 1, "buckets must be >= 1")
    // ONE sketch pass brackets every column (approxQuantile batches columns)
    val bProbs = (1 until buckets).map(_.toDouble / buckets).toArray
    val allBounds = df.stat.approxQuantile(
      cols.toArray, if (bProbs.isEmpty) Array(0.5) else bProbs, 0.01)
    cols.zipWithIndex.map { case (c, ci) =>
      // the value histogram feeds BOTH the totals job and the pick job —
      // cache it so the source is scanned once per column, not twice
      // (re-referenced-subtree rule)
      val vc = df.select(col(c).cast("double").as("v"))
        .where(col("v").isNotNull && !isnan(col("v")))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .cache()
      try {
      val bounds = allBounds(ci).distinct.sorted
      val bucketed =
        if (bounds.isEmpty) vc.withColumn("bkt", lit(0))
        else vc.withColumn("bkt", graft.functions.SortedBucket.of(col("v"), bounds))
      val totals = bucketed.groupBy("bkt").agg(sum("cnt").as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val n = totals.map(_._2).sum
      if (n == 0L) c -> Array.empty[Double]
      else {
        val bases = totals.scanLeft((0, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
          .tail.zip(totals).map { case ((b, cumEnd), (_, t)) => (b, cumEnd - t) }
        val basesDf = df.sparkSession.createDataFrame(bases.toSeq).toDF("bkt", "base")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("bkt").orderBy("v")
        val picked = bucketed
          .join(broadcast(basesDf), "bkt")
          .withColumn("hi", col("base") + sum("cnt").over(w))
          .withColumn("lo", col("hi") - col("cnt"))
          .withColumn("iLo", greatest(expr(s"(lo * ${nbins}L) div ${n}L") + 1, lit(1L)))
          .withColumn("iHi", least(expr(s"(hi * ${nbins}L) div ${n}L"), lit(nbins - 1L)))
          .where(col("iHi") >= col("iLo"))
          .select(explode(sequence(col("iLo"), col("iHi"))).as("i"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        c -> (1 until nbins).map(i => picked(i.toLong)).toArray
      }
      } finally vc.unpersist(false)
    }.toMap
  }

  /** Bin a numeric column by broadcast cut points: bin i (1-based) iff
    * value <= cuts(i-1), else last bin. Values equal to a cut go low.
    */
  def binByCuts(c: Column, cuts: Array[Double]): Column = {
    val nbins = cuts.length + 1
    var expr: Column = lit(nbins)
    // build from the top down so the FIRST (lowest) matching cut wins
    for (i <- cuts.indices.reverse)
      expr = when(c <= cuts(i), lit(i + 1)).otherwise(expr)
    when(c.isNull, lit(null)).otherwise(expr)
  }

  /** R type-7 median of a column, computed exactly and distributedly. */
  def exactMedian(df: DataFrame, c: String): Double = {
    val r = df.select(expr(s"percentile(`$c`, 0.5)")).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** discretize_var: 'l' iff value <= cut, 'h' above, NULL stays. */
  def medianSplitCol(c: Column, median: Double): Column =
    when(c.isNull, lit(null: String))
      .otherwise(when(c <= median, lit("l")).otherwise(lit("h")))

  /** Quantile-split each numeric column to 'l'/'h' string columns in place:
    * the reference's discretize_var at an arbitrary `cutpoint` quantile
    * (step_select_fcbf.R:256–270 — `stats::quantile(x, cutpoint)` is R
    * type-7, which Spark's `percentile` matches exactly). Values <= cut go
    * 'l' (ties low), NULL stays NULL, NAs are ignored when computing the
    * cut. All cuts in ONE distributed pass; all-NULL columns yield all-NULL
    * output (null percentile).
    */
  def quantileSplit(df: DataFrame, cols: Seq[String], cutpoint: Double): DataFrame = {
    require(cutpoint > 0 && cutpoint < 1, s"cutpoint must be in (0, 1), got $cutpoint")
    if (cols.isEmpty) return df
    val cuts = quantileType7(df, cols, cutpoint)
    splitAtCuts(df, cols.map(c => c -> cuts(c)))
  }

  /** [[quantileSplit]] over precomputed cuts: each (column, cut) pair in
    * order, a None cut (all-NULL column) giving an all-NULL column. */
  def splitAtCuts(df: DataFrame, cuts: Seq[(String, Option[Double])]): DataFrame =
    cuts.foldLeft(df) {
      case (d, (c, None))      => d.withColumn(c, lit(null: String))
      case (d, (c, Some(cut))) => d.withColumn(c, medianSplitCol(col(c), cut))
    }
}
