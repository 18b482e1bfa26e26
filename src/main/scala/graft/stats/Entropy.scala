package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entropy-family scores over a long binned form — ALL features in one
  * shuffle.
  *
  * Re-expresses FSelectorRcpp::information_gain's three variants
  * (/root/reference/R/step_select_infgain.R:140–150; natural-log entropy):
  *   IG        = H(X) + H(Y) − H(X,Y)
  *   gainratio = IG / H(X)
  *   symuncert = 2·IG / (H(X) + H(Y))
  * and FCBF's symmetrical uncertainty SU = symuncert
  * (/root/reference/R/step_select_fcbf.R:280–288).
  *
  * Input contract: long DataFrame (feature: string, xb, yb) where xb/yb are
  * the (already discretized) predictor and outcome values. Rows with a NULL
  * xb or yb are dropped per feature (listwise within feature), matching the
  * backend's complete-case handling.
  *
  * Scale shape: groupBy(feature, xb, yb).count() partially aggregates
  * map-side, so the shuffle carries at most p·|X bins|·|Y bins| rows no
  * matter how many input rows there are; the entropy algebra then runs over
  * that tiny counts table with window sums — never on the driver.
  */
object Entropy {

  sealed trait Kind { def name: String }
  case object InfoGain extends Kind { val name = "infogain" }
  case object GainRatio extends Kind { val name = "gainratio" }
  case object SymUncert extends Kind { val name = "symuncert" }

  /** Per-feature joint-entropy terms → DataFrame(feature, hx, hy, hxy).
    *
    * ONE pass over the input: the joint counts table (p·|X|·|Y| rows after
    * the map-side-combined groupBy) is referenced exactly once; marginals
    * come from window sums over it. The previous formulation derived hx/hy/
    * hxy/n as four separate aggregations JOINED back — Catalyst re-executes
    * each re-referenced subtree, so the BASE TABLE was scanned four times
    * per entropy call (observed: 21 scans in q_entropy_scores' full plan).
    */
  def entropyTerms(long: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joint = long
      .where(col("xb").isNotNull && col("yb").isNotNull)
      .groupBy("feature", "xb", "yb")
      .agg(count(lit(1)).as("c"))
    val wf = Window.partitionBy("feature")
    val wx = Window.partitionBy("feature", "xb")
    val wy = Window.partitionBy("feature", "yb")
    // rx/ry pick ONE row per marginal group so each marginal term is
    // summed exactly once in the final per-feature aggregation
    joint
      .withColumn("n", sum("c").over(wf))
      .withColumn("cx", sum("c").over(wx))
      .withColumn("cy", sum("c").over(wy))
      .withColumn("rx", row_number().over(wx.orderBy("yb")))
      .withColumn("ry", row_number().over(wy.orderBy("xb")))
      .groupBy("feature")
      .agg(
        (-sum(when(col("rx") === 1, col("cx") / col("n") * log(col("cx") / col("n")))
          .otherwise(0.0))).as("hx"),
        (-sum(when(col("ry") === 1, col("cy") / col("n") * log(col("cy") / col("n")))
          .otherwise(0.0))).as("hy"),
        (-sum(col("c") / col("n") * log(col("c") / col("n")))).as("hxy"))
  }

  /** DataFrame(feature, score) for the requested variant. */
  def scores(long: DataFrame, kind: Kind): DataFrame = {
    val t = entropyTerms(long)
    val ig = col("hx") + col("hy") - col("hxy")
    val s = kind match {
      case InfoGain  => ig
      case GainRatio => when(col("hx") === 0d, lit(0d)).otherwise(ig / col("hx"))
      case SymUncert =>
        when(col("hx") + col("hy") === 0d, lit(0d))
          .otherwise(lit(2d) * ig / (col("hx") + col("hy")))
    }
    t.select(col("feature"), s.as("score"))
  }

  /** Scores of `target` vs each of `others` in ONE distributed pass: melt
    * others against the fixed target column. Returns feature → score;
    * features sharing no complete cases with `target` are absent.
    */
  def scoresAgainst(
      df: DataFrame, target: String, others: Seq[String], kind: Kind): Map[String, Double] = {
    if (others.isEmpty) return Map.empty
    val long = graft.core.Melt
      .categorical(df.select((others :+ target).distinct.map(col): _*), others, keep = Seq(target))
      .select(col("feature"), col("value").as("xb"), col(target).cast("string").as("yb"))
    scores(long, kind).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Column pairs per exploded chunk of [[pairwiseScores]]. */
  val PairChunk = 1024
  /** All pairs of `nCols` columns fit one chunk, so one input scan. */
  def fitsOneChunk(nCols: Int): Boolean = nCols.toLong * (nCols - 1) / 2 <= PairChunk

  /** Scores for an EXPLICIT list of column pairs in ONE distributed pass —
    * the batching primitive behind mRMR/FCBF (the Boruta round-4 pattern:
    * one plan computes many rounds' pair statistics instead of one small
    * Spark job per greedy round). Each row explodes into one (pair, xa, xb)
    * record; the usual map-side-combined groupBy then shrinks the shuffle
    * to |pairs|·|binsₐ|·|bins_b| rows regardless of input size.
    *
    * Pair orientation follows the argument order ((a, b) ⇒ xb = a, yb = b)
    * — irrelevant for InfoGain/SymUncert (both symmetric in hx/hy) but kept
    * deterministic anyway. Pairs whose columns share no complete cases are
    * absent from the result (same contract as [[scoresAgainst]]).
    *
    * The per-row pair array is chunked ([[PairChunk]] pairs) so the
    * generated projection stays inside JIT/codegen method limits; chunks
    * are unioned into ONE job, but each chunk scans the input again (see
    * [[fitsOneChunk]]). */
  def pairwiseScores(
      df: DataFrame, pairs: Seq[(String, String)], kind: Kind): Map[(String, String), Double] = {
    if (pairs.isEmpty) return Map.empty
    val sep = 1.toChar.toString // control char, never in column identifiers
    val longs = pairs.distinct.grouped(PairChunk).map { chunk =>
      val kvs = chunk.map { case (a, b) =>
        struct(lit(a + sep + b).as("feature"),
          col(a).cast("string").as("xb"), col(b).cast("string").as("yb"))
      }
      df.select(explode(array(kvs: _*)).as("kv"))
        .select(col("kv.feature").as("feature"), col("kv.xb").as("xb"), col("kv.yb").as("yb"))
    }.reduce(_ unionAll _)
    scores(longs, kind).collect().map { r =>
      val k = r.getString(0)
      val i = k.indexOf(sep)
      (k.substring(0, i), k.substring(i + 1)) -> r.getDouble(1)
    }.toMap
  }

  /** Every unordered pair of `cols` in one pass (orientation = column
    * order: earlier column is xb). */
  def pairwiseScoresAll(df: DataFrame, cols: Seq[String], kind: Kind): Map[(String, String), Double] =
    pairwiseScores(df,
      for { i <- cols.indices; j <- i + 1 until cols.length } yield (cols(i), cols(j)), kind)
}
