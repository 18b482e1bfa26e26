package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-only NAIVE rank formulation: mid-ranks via a global (no-partition)
  * rank() window per column — the direct-but-unscalable reference that the
  * production paths (Correlation.spearman's distinct-value rank table,
  * Binning.ntileBins) are asserted exactly equal to. Lives in test sources
  * on purpose: src/main must not contain single-partition row sorts
  * (PlanSpec's global-window guard).
  */
object TestRankRef {

  /** Mid-ranks (average rank for ties) of each column, appended as
    * `<col>__rank`. NULLs keep NULL ranks. rank + (ties−1)/2 where ties is
    * the tie-group size = R's rank(ties.method = "average"). */
  def midRanks(df: DataFrame, cols: Seq[String], suffix: String = "__rank"): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val w = Window.orderBy(col(c))
      val tie = Window.partitionBy(col(c))
      d.withColumn(
        c + suffix,
        when(col(c).isNull, lit(null))
          .otherwise(rank().over(w) + (count(lit(1)).over(tie) - 1) / 2.0)
      )
    }

  import graft.stats.Entropy

  /** NAIVE per-round mRMR greedy over an already-binned/cached frame — the
    * one-Spark-job-per-round formulation the production MrmrStep replaced
    * with a single batched pairwise pass. Selection order and criterion
    * values must match exactly (modulo fp reassociation ≤ 1e-9). */
  def mrmrNaive(binned: DataFrame, preds: Seq[String]): List[(String, Double)] = {
    val relevance = Entropy.scoresAgainst(binned, "__y", preds, Entropy.InfoGain)
    var out = List.empty[(String, Double)]
    var selected = List.empty[String]
    var remaining = preds.filter(p => relevance.get(p).exists(v => !v.isNaN))
    val redundancySum = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    while (remaining.nonEmpty) {
      val crit = remaining.map { p =>
        val red = if (selected.isEmpty) 0.0 else redundancySum(p) / selected.length
        p -> (relevance(p) - red)
      }
      val (best, bestScore) = crit.maxBy(_._2)
      out = (best -> bestScore) :: out
      selected = best :: selected
      remaining = remaining.filterNot(_ == best)
      if (remaining.nonEmpty)
        Entropy.scoresAgainst(binned, best, remaining, Entropy.InfoGain).foreach {
          case (p, v) => if (!v.isNaN) redundancySum(p) += v
        }
    }
    out.reverse
  }

  /** NAIVE sequential FCBF redundancy elimination (one scoresAgainst job per
    * keeper) over the prepared/cached work frame — the formulation the
    * production wave-batched loop must reproduce keeper-for-keeper. */
  def fcbfNaiveKeepers(work: DataFrame, usable: Seq[String], minimumSu: Double): List[String] = {
    val su = Entropy.scoresAgainst(work, "__y", usable, Entropy.SymUncert)
    var ranked = usable
      .flatMap(p => su.get(p).filterNot(_.isNaN).filter(_ >= minimumSu).map(p -> _))
      .sortBy(-_._2)
      .toList
    var selected = List.empty[String]
    while (ranked.nonEmpty) {
      val (fp, _) = ranked.head
      selected = fp :: selected
      val rest = ranked.tail
      if (rest.nonEmpty) {
        val redSu = Entropy.scoresAgainst(work, fp, rest.map(_._1), Entropy.SymUncert)
        ranked = rest.filterNot { case (fq, suQy) => redSu.get(fq).exists(_ >= suQy) }
      } else ranked = Nil
    }
    selected.reverse
  }
}
