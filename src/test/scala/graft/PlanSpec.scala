package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan contracts (SURVEY §4): these assertions pin the
  * scale-critical plan properties so a refactor that silently adds an
  * exchange, loses pushdown, or un-prunes a column fails CI. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("feature pipeline: ONE exchange serves dedup + all per-url window features") {
    val p = plan(graft.Bench.featurePipeline(spark, 10000, 1000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (url windows + as-of union), got $exchanges:\n$p")
  }

  test("filters are pushed down to the parquet scan") {
    val p = plan(SparkEntry.queries("q_asof_join")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]")
      || p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"expected event_type pushdown in:\n$p")
  }

  test("column pruning reaches the scan (no html/full-width reads)") {
    val p = plan(SparkEntry.queries("q_quality")(spark, sf))
    val scanLine = p.split("\n").find(_.contains("FileScan")).get
    assert(scanLine.contains("[doc_id") && scanLine.contains("text"),
      s"quality scan should read only (doc_id, text): $scanLine")
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"unused columns must be pruned: $scanLine")
  }

  test("melted entropy scoring partially aggregates map-side (no row explosion across the wire)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val long = graft.core.Melt.numeric(li, Seq("l_quantity", "l_tax"), keep = Seq("l_returnflag"))
      .select(col("feature"), col("value").cast("string").as("xb"), col("l_returnflag").as("yb"))
    val p = plan(graft.stats.Entropy.scores(long, graft.stats.Entropy.InfoGain))
    // partial_count before the exchange = map-side combine of the joint counts
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"expected partial aggregation in:\n$p")
  }

  test("entropy scoring scans the base table O(1) times — no subtree re-execution blowup") {
    // Catalyst re-executes every re-referenced subtree: the join-of-four-
    // aggregations formulation scanned lineitem 21 TIMES here. The window
    // formulation is pinned to stay scan-frugal.
    val df = SparkEntry.queries("q_entropy_scores")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 5, s"expected <=5 parquet scans, got $scans")
  }

  test("spearman shuffles do not grow with the feature count (one melted join, not p joins)") {
    // the per-feature rank join-back formulation planned one full-table
    // shuffle join PER feature; the melted joint-counts formulation is
    // pinned to a constant exchange count
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def exchanges(features: Seq[String]): Int = {
      val h = new graft.runtime.CacheHandle
      val (stats, _) = graft.stats.Correlation
        .spearmanStats(li, features, "l_extendedprice", h)
      try "Exchange hashpartitioning".r
        .findAllIn(stats.queryExecution.executedPlan.toString).length
      finally h.release()
    }
    val one = exchanges(Seq("l_quantity"))
    val three = exchanges(Seq("l_quantity", "l_discount", "l_tax"))
    assert(three == one, s"exchange count must be feature-count-invariant: p=1 -> $one, p=3 -> $three")
  }

  test("AUC shuffles do not grow with the feature count (one melted rank build, not p)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def exchanges(features: Seq[String]): Int = {
      val long = graft.core.Melt.numeric(li, features, keep = Seq("l_returnflag"))
        .select(col("feature"), col("value"), col("l_returnflag").as("y"))
      val pairs = graft.stats.Auc.classPairs(li.select(col("l_returnflag")))
      val h = new graft.runtime.CacheHandle
      try "Exchange hashpartitioning".r
        .findAllIn(graft.stats.Auc.scores(long, pairs, h).queryExecution.executedPlan.toString)
        .length
      finally h.release()
    }
    val one = exchanges(Seq("l_quantity"))
    val three = exchanges(Seq("l_quantity", "l_discount", "l_tax"))
    assert(three == one, s"exchange count must be feature-count-invariant: p=1 -> $one, p=3 -> $three")
  }

  test("repetition metrics shuffle ONCE (id-partitioning serves counts, window, and pivot)") {
    // the naive plan exchanges the gram-counts table three times (groupBy
    // (id,n,gram) → window (id,n) → groupBy (id)); the pinned plan
    // repartitions the instances by id once and every downstream operator
    // runs in that partitioning
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.text.Repetition.repetitionMetrics(docs, "doc_id", "text")
    val ex = "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(ex == 1, s"expected exactly 1 exchange, got $ex")
  }

  test("stratified sampling is pure map-side: zero exchanges, filter reaches the scan stage") {
    // the operator's whole point is a count-free, shuffle-free membership
    // predicate — any exchange appearing here means someone broke that
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kept = docs.where(graft.text.Sampling.stratifiedSampleMd5(
      col("doc_id"), col("source"), Map("src0" -> 0.5), default = 0.25))
    val p = plan(kept)
    assert(!p.contains("Exchange"), s"stratified sample must not shuffle:\n$p")
  }

  test("NbQuality scoring is pure map-side: zero exchanges (weights ride as a referenced object)") {
    // the fused BucketWeightSum kernel is the whole point: scoring must not
    // explode tokens, join a model table, or shuffle anything
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val m = graft.text.NbQuality.Model(
      Array.fill(64)(0.1), bias = 0.0, alpha = 1.0,
      posTokens = 1, negTokens = 1, posDocs = 1, negDocs = 1)
    val p = plan(graft.text.NbQuality.score(docs, "doc_id", "text", m))
    assert(!p.contains("Exchange"), s"NbQuality.score must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"NbQuality.score must not explode tokens:\n$p")
  }

  test("chunkByTokens is pure map-side: zero exchanges, one Generate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val p = plan(graft.text.Packing.chunkByTokens(docs, "text", maxTokens = 64, overlap = 16))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("vocabTopK executes as TakeOrderedAndProject (no global sort)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.text.TextFeatures.vocabTopK(docs, "text", k = 100))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n$p")
  }

  test("duplicateSpans reads the corpus parquet ONCE; all joins stay hash-based") {
    // the doc-level token+hash arrays are cached; grams, coverage and the
    // rebuild must all derive from that cache, not re-scan the input
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val h = new graft.runtime.CacheHandle
    try {
      val out = graft.text.Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, handle = h)
      out.collect() // materialize the cache so the executed plan is final
      val p = plan(out)
      // every FileScan in the printout must be the STORED CHILD of an
      // InMemoryTableScan (the cache's build plan, executed once) — a bare
      // FileScan would be a real re-read of the corpus
      val imts = "InMemoryTableScan".r.findAllIn(p).length
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(imts >= 1 && scans == imts,
        s"expected every parquet scan to sit under the doc-array cache ($imts cache reads, $scans file scans):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"coverage/rebuild joins must be equi-joins:\n$p")
    } finally h.release()
  }

  test("html extraction and url parsing are pure map-side: zero exchanges") {
    // both are regexp-chain projections — they must fuse into the scan and
    // run at parquet-read speed at any corpus size
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ex1 = plan(docs.select(col("doc_id"),
      graft.text.HtmlExtract.extractText(col("text")),
      graft.text.HtmlExtract.title(col("text")),
      graft.text.HtmlExtract.linkCount(col("text"))))
    assert(!ex1.contains("Exchange"), s"html extraction must not shuffle:\n$ex1")
    val ex2 = plan(docs.select(col("doc_id"),
      graft.text.UrlFeatures.host(col("text")),
      graft.text.UrlFeatures.registrableDomain(col("text")),
      graft.text.UrlFeatures.normalize(col("text"))))
    assert(!ex2.contains("Exchange"), s"url parsing must not shuffle:\n$ex2")
    val ex3 = plan(docs.select(col("doc_id"),
      graft.text.TextFeatures.normalizeNfc(col("text")),
      graft.text.TextFeatures.dedupKeyFold(col("text"))))
    assert(!ex3.contains("Exchange"), s"unicode normalization must not shuffle:\n$ex3")
  }

  test("LM scoring joins the model by BROADCAST (the corpus side never shuffles)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val h = new graft.runtime.CacheHandle
    try {
      val scored = graft.text.LmScore.charBigramScore(docs, "doc_id", "text", h)
      val p = plan(scored)
      val bcasts = "BroadcastHashJoin".r.findAllIn(p).length
      assert(bcasts == 2, s"model (m2) and prefix (m1) joins must broadcast, got $bcasts:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the exploded corpus side must never sort-merge against the model:\n$p")
    } finally h.release()
  }

  test("line dedup joins line counts without shuffling full strings as keys") {
    // the join key is the 64-bit line hash — the raw line travels only as
    // payload; assert the join keys are the hash column, not the string
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val p = plan(graft.text.Dedup.dedupLines(docs, "doc_id", "text", 1))
    assert(p.contains("__lh"), s"count join must key on the line hash:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("no registered query plans a CartesianProduct") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
    }
  }

  test("src/main has no unmarked global (no-partitionBy) window — single-partition sorts are banned") {
    // Window.orderBy(...) without a partitionBy collapses the dataset into
    // ONE task — the canonical 100-TB scale-killer. The only sanctioned use
    // is over a provably tiny derived table, marked GLOBAL-WINDOW-OK with a
    // justification on the preceding line.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("Window.orderBy") &&
            !lines.slice(math.max(0, i - 2), i + 1).exists(_.contains("GLOBAL-WINDOW-OK")) =>
            s"$f:${i + 1}: $l"
        }
      }.toList
    assert(offenders.isEmpty, "unmarked global windows:\n" + offenders.mkString("\n"))
  }
}
