package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.select._

/** Fit job budgets: the number of Spark jobs a step's fit runs must not
  * grow with the predictor count (ROADMAP direction 2). Each count is
  * measured at p = 8 and p = 16 and pinned, so a refactor that adds or
  * removes an action, or makes one per feature, fails here. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded fixture: p numeric features (the first half informative), a
    * 3-class outcome `cls` and a numeric outcome `yn`. Cached and counted
    * so the fits below pay no input jobs of their own. */
  def fixture(p: Int): DataFrame = {
    val rng = new scala.util.Random(11)
    val rows = (0 until 2000).map { _ =>
      val xs = Seq.fill(p)(rng.nextGaussian())
      val signal = xs.take(p / 2).sum
      (xs, if (signal > 0.5) "a" else if (signal < -0.5) "b" else "c", signal + rng.nextGaussian())
    }
    val df = rows.toDF("xs", "cls", "yn").select(
      (0 until p).map(i => col("xs")(i).as(s"f$i")) :+ col("cls") :+ col("yn"): _*)
    df.cache(); df.count()
    df
  }

  val budgets: Seq[(String, SelectorStep, String, Int)] = Seq(
    ("MrmrStep", MrmrStep(topP = Some(4)), "cls", 9),
    ("FcbfStep", FcbfStep(minimumSu = 0.001), "cls", 10),
    ("InfoGainStep", InfoGainStep(topP = Some(4)), "cls", 7),
    ("CorrStep(spearman)", CorrStep(topP = Some(4), method = "spearman"), "yn", 13),
    ("RocStep", RocStep(topP = Some(4)), "cls", 11))

  for ((label, step, outcome, pinned) <- budgets)
    test(s"$label fit runs the same pinned number of Spark jobs at p = 8 and p = 16") {
      val counts = Seq(8, 16).map { p =>
        val df = fixture(p)
        val preds = df.columns.filter(_.startsWith("f")).toSeq
        try TestSpark.jobTasks(step.fit(df, outcome, preds)).length
        finally df.unpersist()
      }
      assert(counts == Seq(pinned, pinned), s"$label jobs at p = 8, 16: $counts")
    }
}
