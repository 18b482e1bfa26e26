package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Melt, Store, Types}
import graft.runtime.{Checkpoints, Lineage}
import graft.select._
import graft.stats.{Anova, ChiSq, Correlation}

/** One workload: inputs made once per set-up, then passes of timed calls
  * into the program's layers, each followed by untimed output checks. */
trait Workload {
  /** Make the inputs (idempotent: overwrites). */
  def generate(): Unit
  /** Untimed housekeeping before a pass (remove the previous pass's outputs). */
  def prepare(): Unit = ()
  def pass(t: Tracer): Unit
  /** Untimed output checks of the pass just run; returns one message per
    * failed operation. `full` adds the checks that re-execute outputs,
    * which run on the first and the last pass only. */
  def check(t: Tracer, full: Boolean): Seq[String]
  /** Workload-only figures of the last pass, as (name, value, unit). */
  def extras(wallS: Double): Seq[(String, Double, String)] = Nil
  /** Observed values to pin, as (workload, key, value). */
  def pinsObserved: Seq[(String, String, String)]
}

object Workload {
  /** `pinLines` are the lines of `pins.tsv`; `size` is `full` or `smoke`. */
  def apply(name: String, spark: SparkSession, seed: Int, smoke: Boolean, work: String,
      pinLines: Seq[String]): Workload = {
    val size = if (smoke) "smoke" else "full"
    def pins(w: String) = new Pins(pinLines, w, size, seed)
    name match {
      case "select_curate" => new Sequence(Seq(
        new SelectWide(spark, seed, if (smoke) 1000L else 4000L, work, pins("select_wide")),
        if (smoke) new CurateMix(spark, seed, 400, 200, work, pins("curate_mix"))
        else new CurateMix(spark, seed, 2000, 1000, work, pins("curate_mix"))))
      case "pipeline_tall" =>
        if (smoke) new PipelineTall(spark, seed, 10000L, 1000L, work, pins(name))
        else new PipelineTall(spark, seed, 20000L, 2000L, work, pins(name))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
  }
}

/** Expected outputs pinned in `pins.tsv`: `workload size seed key value`,
  * tab-separated; `*` as seed matches every seed. */
final class Pins(lines: Seq[String], workload: String, size: String, seed: Int) {
  private val map: Map[String, String] = lines
    .filter(l => l.nonEmpty && !l.startsWith("#"))
    .map(_.split("\t", 5))
    .collect { case Array(w, s, sd, k, v) if w == workload && s == size &&
      (sd == "*" || sd == seed.toString) => k -> v }
    .toMap
  def get(key: String): Option[String] = map.get(key)
}

/** Compares each keyed output with the first pass's and with its pin. */
final class Expect(pins: Pins) {
  private val first = mutable.Map.empty[String, String]
  def apply(key: String, observed: String): Option[String] = {
    val prev = first.getOrElseUpdate(key, observed)
    if (prev != observed) Some(s"$key changed between passes: $prev -> $observed")
    else pins.get(key).filter(_ != observed).map(p => s"$key: pinned $p, got $observed")
  }
  def observed: Seq[(String, String)] = first.toSeq.sortBy(_._1)
}

object Fmt {
  def d6(v: Double): String =
    if (v.isNaN || v.isInfinite) v.toString else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros().toPlainString
  def scores(s: Seq[(String, Option[Double])]): String =
    s.sortBy(_._1).map { case (k, v) => s"$k:${v.map(d6).getOrElse("NA")}" }.mkString(",")
  /** A fit as its excluded set and its scores rounded to 1e-6. */
  def fit(f: FittedSelector): String =
    s"excluded=${f.excluded.sorted.mkString(",")};scores=${scores(f.scores)}"
}

/** colino's own job at p = 16: fit the two pairwise selector steps (mRMR
  * and FCBF score every predictor pair), bake each, and call the score
  * functions of `stats` directly. */
final class SelectWide(spark: SparkSession, seed: Int, n: Long, work: String, pins: Pins)
    extends Workload {
  private val path = s"$work/input/lineitem"
  private val nums = Inputs.liNumeric
  private val cats = Inputs.liCategorical
  private val expect = new Expect(pins)

  def generate(): Unit =
    Inputs.lineitem(spark, n, seed).write.mode("overwrite").parquet(path)

  private lazy val li = spark.read.parquet(path)

  /** (op, step, outcome). Budget knobs follow the registered queries
    * q_mrmr and q_fcbf. */
  private val fits: Seq[(String, SelectorStep, String)] = Seq(
    ("mrmr", MrmrStep(topP = Some(4), nbins = 5), "l_returnflag"),
    ("fcbf", FcbfStep(minimumSu = 0.0001), "l_linestatus"))

  private val fitted = mutable.LinkedHashMap.empty[String, (FittedSelector, Seq[String])]
  private val scored = mutable.LinkedHashMap.empty[String, () => String]

  def pass(t: Tracer): Unit = {
    fitted.clear(); scored.clear()
    for ((op, step, y) <- fits) {
      val f = t.build("select", op)(step.fit(li, y, nums))
      val baked = f.transform(li)
      t.exec("select", op, baked)
      fitted(op) = (f, baked.columns.toSeq)
    }
    val ct = t.build("stats", "chisq_contingency") {
      ChiSq.contingency(Melt.categorical(li, cats, keep = Seq("l_returnflag"))
        .select(col("feature"), col("value").as("xb"), col("l_returnflag").as("yb")))
    }
    t.exec("stats", "chisq_contingency", ct)
    val pear = t.build("stats", "pearson")(Correlation.pearson(li, nums, "l_extendedprice"))
    val aov = t.build("stats", "anova")(Anova.typeISS(li, "l_extendedprice", cats))

    scored("stats.pearson") = () => Fmt.scores(pear.toSeq)
    scored("stats.anova") = () => aov.map(r => s"${r.feature}:${r.df}:${Fmt.d6(r.f)}").mkString(",")
    scored("stats.chisq_contingency") = () =>
      ct.collect().map(_.toSeq.mkString(":")).sorted.mkString(",")
  }

  def check(t: Tracer, full: Boolean): Seq[String] = t.check("select_wide") {
    val fitFails = fitted.toSeq.flatMap { case (op, (f, bakedCols)) =>
      val kept = bakedCols.filter(nums.contains)
      if (f.excluded.exists(e => !nums.contains(e)) || (kept ++ f.excluded).sorted != nums.sorted)
        Some(s"$op: kept ${kept.mkString(",")} + excluded ${f.excluded.mkString(",")} != predictors")
      else expect(s"select.$op", Fmt.fit(f))
    }
    fitFails ++ scored.toSeq.flatMap { case (k, v) => expect(k, v()) }
  }

  def pinsObserved: Seq[(String, String, String)] = expect.observed.map(o => ("select_wide", o._1, o._2))
}

/** The production job: `graft.RunPipeline`'s sequence through its public
  * calls, plus a simulated kill of the last selection step and its resume. */
final class PipelineTall(spark: SparkSession, seed: Int, nPages: Long, nLabels: Long,
    work: String, pins: Pins) extends Workload {
  import spark.implicits._
  private val rawPages = s"$work/input/pages"
  private val rawLabels = s"$work/input/labels"
  private val out = Paths.get(work, "pipeline")
  private val pagesPath = out.resolve("pages").toString
  private val featPath = out.resolve("features").toString
  private val ckDir = out.resolve("checkpoints")
  private val expect = new Expect(pins)

  /** RunPipeline's two checkpointed steps. */
  private val steps: Seq[(SelectorStep, Seq[String])] = Seq(
    (InfoGainStep(topP = Some(3)),
      Seq("text_len", "prev_text_len", "revisits_7d", "visit_no", "session_id")),
    (CorrStep(threshold = Some(0.25), method = "spearman"), Nil))

  def generate(): Unit = {
    // RunPipeline's shape: one url per 10 pages, u^3 hot urls from PagesGen
    Types.pages(spark, nPages, nUrls = nPages / 10, seed).write.mode("overwrite").parquet(rawPages)
    Types.labels(spark, nLabels, nUrls = nPages / 10, seed).write.mode("overwrite").parquet(rawLabels)
  }

  override def prepare(): Unit = Workload.deleteTree(out)

  private var violations: DataFrame = _
  private var fitted: Seq[FittedSelector] = Nil
  private var resumed: Seq[FittedSelector] = Nil
  private var kept: Seq[String] = Nil
  private var featureRows = 0L
  private var resumeS = Double.NaN

  def pass(t: Tracer): Unit = {
    fitted = Nil; resumed = Nil; kept = Nil
    t.build("core", "writePages")(Store.writePages(spark.read.parquet(rawPages), pagesPath))
    violations = t.build("runtime", "textIdentityViolations")(
      Lineage.textIdentityViolations(Store.readPages(spark, pagesPath), "url", "text"))
    t.exec("runtime", "textIdentityViolations", violations)
    val labels = spark.read.parquet(rawLabels).as[Types.LabelPoint]
    val bounded = t.build("core", "pagesUpTo") {
      val maxLabelTs = labels.agg(max("label_ts")).head().getTimestamp(0)
      Store.pagesUpTo(spark, pagesPath, maxLabelTs).drop("dt").as[Types.PageEvent]
    }
    val features = t.build("temporal", "featureVectors")(Types.featureVectors(spark, bounded, labels))
    t.exec("temporal", "featureVectors", features.toDF())
    t.build("core", "writeFeatures")(Store.writeFeatures(features.toDF(), featPath))
    def fitStored(op: String) = t.build("runtime", op) {
      val stored = spark.read.parquet(featPath).na.fill(0.0, Seq("prev_text_len"))
      (stored, Checkpoints.fitOrResume(spark, ckDir.toString, steps, stored, "label",
        lineage = Lineage.inputFiles(stored).take(3).mkString(",")))
    }
    val (stored, f) = fitStored("fitOrResume")
    fitted = f
    // simulated kill: the last step's checkpoint never reached the disk
    val last = Files.list(ckDir)
    try last.sorted(java.util.Comparator.reverseOrder[Path]()).findFirst().ifPresent(p => Files.delete(p))
    finally last.close()
    resumed = fitStored("resume")._2
    resumeS = t.spans.last.seconds
    val baked = fitted.foldLeft(stored)((d, s) => s.transform(d))
    t.exec("select", "transform", baked)
    kept = baked.columns.toSeq
  }

  def check(t: Tracer, full: Boolean): Seq[String] = t.check("pipeline_tall") {
    val v = violations.count()
    featureRows = spark.read.parquet(featPath).count()
    val summary = s"""{"pages":$nPages,"features":$featureRows,""" +
      s""""excluded":${fitted.flatMap(_.excluded).distinct.length},""" +
      s""""kept_columns":"${kept.mkString(",")}"}"""
    Seq(
      if (v != 0) Some(s"textIdentityViolations: $v urls") else None,
      if (resumed.map(Fmt.fit) != fitted.map(Fmt.fit))
        Some(s"resume: ${resumed.map(Fmt.fit)} != fresh ${fitted.map(Fmt.fit)}")
      else None,
      expect("summary", summary)).flatten
  }

  override def extras(wallS: Double): Seq[(String, Double, String)] = Seq(
    ("feature_rows_per_s", featureRows / wallS, "rows/s"),
    ("resume_s", resumeS, "s"),
    ("stored_bytes_per_page",
      (Workload.treeBytes(Paths.get(pagesPath)) + Workload.treeBytes(Paths.get(featPath)) +
        Workload.treeBytes(Paths.get(featPath + "_metrics")) + Workload.treeBytes(ckDir)).toDouble / nPages,
      "B"))

  def pinsObserved: Seq[(String, String, String)] = expect.observed.map(o => ("pipeline_tall", o._1, o._2))
}

/** The registered curation queries over fixed `documents`/`embeddings`
  * tables; the seed only shuffles the order they run in. */
final class CurateMix(spark: SparkSession, seed: Int, nDocs: Int, nEmb: Int, work: String,
    pins: Pins) extends Workload {
  private val dir = s"$work/input/curate"
  private val expect = new Expect(pins)
  /** Table seed, fixed so the outputs can be pinned at every run seed. */
  private val tableSeed = 20240517L

  private val layers: Seq[(String, Seq[String])] = Seq(
    "text" -> Seq("q_dedup_exact", "q_quality", "q_bm25"),
    "sim" -> Seq("q_knn_ivf", "q_kmeans"),
    "graph" -> Seq("q_pagerank"))
  private val order: Seq[(String, String)] = new scala.util.Random(seed)
    .shuffle(layers.flatMap { case (l, qs) => qs.map(l -> _) })
  private val queries = SparkEntry.queries
  private val outs = mutable.LinkedHashMap.empty[String, DataFrame]

  def generate(): Unit = {
    Inputs.documents(spark, nDocs, tableSeed).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Inputs.embeddings(spark, nEmb, tableSeed).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def pass(t: Tracer): Unit = {
    outs.clear()
    for ((layer, q) <- order) {
      val df = t.build(layer, q)(queries(q)(spark, dir))
      t.exec(layer, q, df)
      outs(q) = df
    }
  }

  def check(t: Tracer, full: Boolean): Seq[String] = if (!full) Nil else t.check("curate_mix") {
    outs.toSeq.flatMap { case (q, df) => expect(q, Lineage.contentDigest(df).toString) }
  }

  def pinsObserved: Seq[(String, String, String)] = expect.observed.map(o => ("curate_mix", o._1, o._2))
}

/** Workloads run one after another in each pass, on one session. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  def generate(): Unit = parts.foreach(_.generate())
  override def prepare(): Unit = parts.foreach(_.prepare())
  def pass(t: Tracer): Unit = parts.foreach(_.pass(t))
  def check(t: Tracer, full: Boolean): Seq[String] = parts.flatMap(_.check(t, full))
  override def extras(wallS: Double): Seq[(String, Double, String)] = parts.flatMap(_.extras(wallS))
  def pinsObserved: Seq[(String, String, String)] = parts.flatMap(_.pinsObserved)
}
