package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ROC AUC per numeric feature vs a categorical outcome
  * (/root/reference/R/step_select_roc.R:87–108).
  *
  * AUC is the normalized Mann–Whitney U with MID-RANKS for ties:
  *   AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg)
  * where R_pos is the rank-sum of positive-class values. The reference's
  * `direction = "auto"` makes the score effectively max(AUC, 1−AUC)
  * (step_select_roc.R:24, 91–93); >2 classes use Hand & Till 2001 — the mean
  * of pairwise binary AUCs (step_select_roc.R:94–96).
  *
  * Scale shape: ranks are NOT computed per row. We aggregate to per-
  * (feature, pair, value) counts first (map-side partial agg), then a window
  * over the distinct values per (feature, pair) produces mid-ranks — the
  * window input is |distinct values|, not |rows|.
  */
object Auc {

  /** long: (feature, value: double, y: string). Returns (feature, auc) with
    * direction-auto pairwise mean over the given class pairs. `handle` owns
    * the bucketed per-(feature, pair, value) counts cache of the midrank
    * build (default arg = session-LRU lifetime, the registered-
    * query convention; callers that fit repeatedly pass one and release). */
  def scores(long: DataFrame, classPairs: Seq[(String, String)],
             handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle): DataFrame = {
    // aggregate to per-(feature, value, y) counts FIRST, then expand the
    // counts table by class pair: the per-row pair explode this replaces
    // multiplied the pre-aggregation row volume by |pairs| before any
    // map-side combining happened (and for a near-unique feature the
    // (feature, pair, value) key set is |pairs|× the (feature, value, y)
    // one). cnt/cntPos per (feature, pair, value) are the same integer
    // sums, associated differently — midranks and AUC are bit-identical.
    val byY = long
      .where(col("value").isNotNull && col("y").isNotNull)
      .groupBy("feature", "value", "y")
      .agg(count(lit(1)).as("c"))
    val pairStructs = classPairs.map { case (a, b) =>
      when(
        col("y") === a || col("y") === b,
        struct(lit(s"$a|$b").as("pair"), (col("y") === a).cast("long").as("isPos"))
      )
    }
    val byValue = byY
      .withColumn("tag", explode(array(pairStructs: _*)))
      .where(col("tag").isNotNull)
      .groupBy(col("feature"), col("tag.pair").as("pair"), col("value"))
      .agg(sum("c").as("cnt"), sum(col("tag.isPos") * col("c")).as("cntPos"))
    // midranks per (feature, pair), the Spearman build
    val (withBases, midrank) = Ranks.midranks(byValue, Seq("feature", "pair"), handle)
    val ranked = withBases.withColumn("midrank", midrank)

    ranked
      .groupBy("feature", "pair")
      .agg(
        sum(col("cntPos") * col("midrank")).as("rPos"),
        sum("cntPos").as("nPos"),
        (sum("cnt") - sum("cntPos")).as("nNeg")
      )
      .where(col("nPos") > 0 && col("nNeg") > 0)
      .withColumn(
        "auc",
        (col("rPos") - col("nPos") * (col("nPos") + 1) / 2.0) / (col("nPos") * col("nNeg"))
      )
      .withColumn("auc", greatest(col("auc"), lit(1.0) - col("auc"))) // direction auto
      .groupBy("feature")
      .agg(avg("auc").as("score"))
  }

  /** Every unordered pair of the distinct non-null classes in the
    * single-column frame `ySource`, in sorted order (collected — class
    * cardinality is small by construction). Fewer than two classes fail
    * naming step_select_roc and the count found. */
  def classPairs(ySource: DataFrame): Seq[(String, String)] = {
    val classes = ySource.toDF("y")
      .select("y").where(col("y").isNotNull).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (classes.length < 2)
      throw new IllegalArgumentException("step_select_roc: ROC needs at least two outcome " +
        s"classes, found ${classes.length}")
    for { i <- classes.indices; j <- i + 1 until classes.length }
      yield (classes(i), classes(j))
  }

  /** Convenience: derive the class pairs from the outcome's distinct values. */
  def scoresAuto(long: DataFrame): DataFrame = scoresAuto(long, long.select("y"))

  /** [[scoresAuto]] with the class-discovery scan decoupled from the melted
    * table: `ySource` is any single-column frame holding the same outcome
    * values (callers pass the UN-MELTED outcome column, so the tiny
    * distinct doesn't re-execute the p-fold melt — measured ~0.5 s of the
    * q_auc bench time). The discovered class SET is identical because the
    * melt carries the outcome to every row unchanged. */
  def scoresAuto(long: DataFrame, ySource: DataFrame): DataFrame =
    scores(long, classPairs(ySource))
}
