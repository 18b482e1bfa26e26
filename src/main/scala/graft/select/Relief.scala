package graft.select

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** step_select_relief — Relief/ReliefF/RReliefF feature weighting
  * (/root/reference/R/step_select_relief.R:133–181, backed by
  * FSelectorRcpp::relief(neighboursCount, sampleSize); the reference passes
  * ANY outcome type through — there is no classification guard — so numeric
  * outcomes take the RReliefF regression path).
  *
  * Classification (ReliefF): sample `sampleSize` anchor instances; for each
  * anchor find its k nearest hits (same class) and k nearest misses (other
  * class) by normalized Manhattan distance; weight each feature by mean
  * miss-diff minus mean hit-diff, averaged over anchors. Scores ∈ [−1, 1].
  *
  * Regression (RReliefF, Robnik-Šikonja & Kononenko 2003 §2.2): for each
  * anchor take the k nearest neighbors (no class split) and accumulate over
  * all anchor–neighbor pairs with dy = |Δy|/range(y), dA = |Δf|/range(f):
  *   N_dC       = Σ dy
  *   N_dA[f]    = Σ dA
  *   N_dC∧dA[f] = Σ dy·dA
  *   W[f] = N_dC∧dA[f]/N_dC − (N_dA[f] − N_dC∧dA[f])/(m − N_dC)
  * — the probability-of-different-prediction decomposition that replaces
  * the hit/miss split when y is continuous.
  *
  * The reference is RNG-dependent (tests fix a seed) — our engine replaces
  * the RNG with a DETERMINISTIC hash-ordered sample (seeded xxhash64), so
  * reruns and resume produce identical scores; cross-implementation parity
  * is ranking-level only (SURVEY §7.4 risk 4).
  *
  * Scale shape: anchors are O(sampleSize) — collected and broadcast as
  * literals; distances to all anchors are ONE narrow map over the data
  * (explode by anchor); top-k per (anchor[, hit/miss]) via a map-side
  * bounded heap (the exploded table never shuffles) merged by one tiny
  * exact window; the weight update is a tiny driver fold.
  */
object ReliefStep {
  /** One anchor–candidate pair flowing through the map-side top-k. */
  final case class Cand(aid: Int, side: Double, dist: Double, diffs: Seq[Double], h: Long)
}

final case class ReliefStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    neighbours: Int = 5,
    sampleSize: Int = 10,
    seed: Long = 42L
) extends FilterStep {
  val name = "step_select_relief"

  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    require(neighbours >= 1, "`neighbours` must be >= 1")
    require(sampleSize >= 1, "`sampleSize` must be >= 1")
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    val classif = StepCommon.isClassification(df, outcome)
    val data0 = df.na.drop(preds :+ outcome)
    // fanOut was tried here (plain, then + cache for the three separate
    // actions: ranges, anchors, the exploded pass) and REVERTED both
    // times: uncached, every action re-executed the repartition's
    // under-split map side (1.6 -> 2.4 s); cached, the fill +
    // materialization cost still outweighed spreading the 1.0 s 3-task
    // bounded-heap stage (1.6 -> 1.8 s). The heap pass is already
    // payload-trimmed; at deployment split counts the source arrives
    // well-split and neither variant applies.
    val data =
      if (classif)
        data0.select((preds.map(p => col(p).cast("double").as(p)) :+
          col(outcome).cast("string").as("__y")): _*)
      else
        data0.select((preds.map(p => col(p).cast("double").as(p)) :+
          col(outcome).cast("double").as("__y")): _*)

    // per-feature (and, for regression, outcome) ranges and the row count
    // in one pass; with no complete row every range is NULL
    val rangeCols = if (classif) preds else preds :+ "__y"
    val rangeAggs = rangeCols.flatMap(p => Seq(min(col(p)).as(s"mn_$p"), max(col(p)).as(s"mx_$p")))
    val rr = data.agg(count(lit(1)), rangeAggs: _*).head()
    if (rr.getLong(0) == 0) throw StepCommon.noCompleteRows(name, df, outcome, preds)
    val ranges: Map[String, Double] = rangeCols.zipWithIndex.map { case (p, i) =>
      val d = rr.getDouble(2 * i + 2) - rr.getDouble(2 * i + 1)
      p -> (if (d == 0) 1.0 else d)
    }.toMap

    // deterministic "random" anchors: lowest seeded row-hashes
    val hashed = data.withColumn("__h", xxhash64(struct(data.columns.map(col): _*), lit(seed)))
    val anchors: Array[Row] = hashed.orderBy("__h").limit(sampleSize).collect()

    // one pass: explode each row against every anchor, compute normalized
    // Manhattan distance; classification tags hit/miss, regression carries
    // the normalized outcome distance dy
    val anchorStructs = anchors.zipWithIndex.map { case (a, i) =>
      val ay =
        if (classif) lit(a.getString(a.fieldIndex("__y"))).as("ay")
        else lit(a.getDouble(a.fieldIndex("__y"))).as("ay")
      struct(
        lit(i).as("aid"),
        ay,
        lit(a.getLong(a.fieldIndex("__h"))).as("ah"),
        struct(preds.map(p => lit(a.getDouble(a.fieldIndex(p))).as(p)): _*).as("av")
      )
    }
    val dist = preds.map(p =>
      abs(col(p) - col("__a.av." + p)) / ranges(p)).reduce(_ + _)
    val sideCol =
      if (classif) when(col("__y") === col("__a.ay"), 1.0).otherwise(0.0).as("side") // hit?
      else (abs(col("__y") - col("__a.ay")) / ranges("__y")).as("side") // dy
    val exploded = hashed
      .withColumn("__a", explode(array(anchorStructs.toIndexedSeq: _*)))
      .where(col("__h") =!= col("__a.ah")) // exclude the anchor itself
      .select(
        col("__a.aid").as("aid"),
        sideCol,
        dist.as("dist"),
        array(preds.map(p => (col(p) - col("__a.av." + p)) / ranges(p)): _*).as("diffs"),
        col("__h").as("h"))

    // two-phase exact top-k with a MAP-SIDE bounded heap: the n×anchors
    // exploded table never shuffles — each task keeps only its local top-k
    // per (anchor[, hit/miss]) group (a per-partition bounded heap is
    // genuine imperative per-partition logic no built-in aggregate
    // expresses: collect_list-based formulations still move every row), so
    // the only exchange carries ≤ partitions·groups·k rows into the final
    // exact merge window. Global top-k over a total order (dist, rowhash)
    // is exactly the top-k of the per-partition top-ks; measured 11.9 s →
    // the explode-scan cost alone at sf0.1. Classification groups by
    // (anchor, hit/miss); regression by anchor alone (k nearest overall).
    val spark = df.sparkSession
    import spark.implicits._
    val kN = neighbours
    val isClassif = classif
    val nAnchors = anchors.length
    val perPartition = exploded.as[ReliefStep.Cand].mapPartitions { it =>
      // allocation-free hot loop (runs once per exploded row, n × anchors):
      // comparator on primitives and heaps in a dense array indexed by the
      // small key (aid·2 + hitBit) — a Map.getOrElseUpdate here would box
      // the key and allocate a thunk per row
      val ord = new Ordering[ReliefStep.Cand] {
        def compare(a: ReliefStep.Cand, b: ReliefStep.Cand): Int = {
          val d = java.lang.Double.compare(a.dist, b.dist)
          if (d != 0) d else java.lang.Long.compare(a.h, b.h)
        }
      }
      val nKeys = if (isClassif) nAnchors * 2 else nAnchors
      val heaps = new Array[scala.collection.mutable.PriorityQueue[ReliefStep.Cand]](nKeys)
      it.foreach { c =>
        val key = if (isClassif) c.aid * 2 + (if (c.side == 1.0) 1 else 0) else c.aid
        var heap = heaps(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[ReliefStep.Cand](ord) // max at head
          heaps(key) = heap
        }
        if (heap.size < kN) heap.enqueue(c)
        else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
      }
      heaps.iterator.filter(_ != null).flatMap(_.iterator)
    }
    val groupCols = if (classif) Seq("aid", "side") else Seq("aid")
    val w2 = Window.partitionBy(groupCols.map(col): _*).orderBy(col("dist"), col("h"))
    val nearest = perPartition.toDF()
      .withColumn("__rn", row_number().over(w2))
      .where(col("__rn") <= neighbours)
      .select(col("aid"), col("side"), col("diffs"))
      .collect()

    val weights = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    if (classif) {
      // driver fold: W[f] = mean over anchors of (avg miss diff − avg hit diff)
      nearest.groupBy(_.getInt(0)).foreach { case (_, rows) =>
        val (hits, misses) = rows.partition(_.getDouble(1) == 1.0)
        def avgAbs(group: Array[Row], p: String): Double =
          if (group.isEmpty) 0.0
          else group.map(r => math.abs(r.getSeq[Double](2)(preds.indexOf(p)))).sum / group.length
        preds.foreach { p =>
          weights(p) += (avgAbs(misses, p) - avgAbs(hits, p)) / anchors.length
        }
      }
    } else {
      // driver fold: the RReliefF accumulators over ALL anchor-neighbor pairs
      var ndc = 0.0
      var m = 0.0
      val ndA = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val ndcdA = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      nearest.foreach { r =>
        val dy = r.getDouble(1)
        ndc += dy; m += 1.0
        preds.zipWithIndex.foreach { case (p, i) =>
          val dA = math.abs(r.getSeq[Double](2)(i))
          ndA(p) += dA
          ndcdA(p) += dy * dA
        }
      }
      preds.foreach { p =>
        val t1 = if (ndc == 0.0) 0.0 else ndcdA(p) / ndc
        val t2 = if (m - ndc == 0.0) 0.0 else (ndA(p) - ndcdA(p)) / (m - ndc)
        weights(p) = t1 - t2
      }
    }

    preds.map(p => p -> Some(weights(p)))
  }
}
