package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Melt, PagesGen}
import graft.multimodal.BinaryFeatures
import graft.select._
import graft.sim.{Quantize, Similarity}
import graft.stats.{Anova, Auc, Binning, ChiSq, Correlation, Entropy}
import graft.temporal.{AsOf, Salting, Windows}
import graft.text.{Bm25, Dedup, HtmlExtract, LmScore, Packing, Repetition, Sampling, TextFeatures, UrlFeatures}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is SQL-expressible carries a DuckDB
  * oracle in [[oracleSql]]; iterative/greedy operators (mRMR, FCBF, LSH) are
  * registered without oracles (driver records a rows-only check) and are
  * instead pinned by the ScalaTest suite against in-repo naive oracles.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** q_normalize fixture decoration, single source of truth for BOTH the
    * Spark column and the SQL literal: decomposed e+acute / A+ring next to
    * their precomposed forms, so NFC actually rewrites something. */
  private val normFixtureSuffix =
    " cafe\u0301 A\u030A composed:\u00E9\u00C5" // decomposed pair, then precomposed pair

  /** Flagship: the SURVEY §7.2 end-to-end spine on a deterministic synthetic
    * pages table — dedup → sessionize/lag/rolling features → as-of join to
    * labels → infogain scoring → dual_filter → baked feature vectors. */
  def entry(spark: SparkSession): DataFrame = {
    val joined = graft.core.Types.featureVectors(
      spark,
      graft.core.Types.pages(spark, nRows = 20000, nUrls = 2000),
      graft.core.Types.labels(spark, nRows = 2000, nUrls = 2000)).toDF()
    val step = InfoGainStep(topP = Some(3), nbins = 5)
    val fitted = step.fit(
      joined.na.fill(0.0, Seq("prev_text_len")), "label",
      Seq("text_len", "prev_text_len", "revisits_7d", "visit_no"))
    fitted.transform(joined)
  }

  // ---- shared query fragments -------------------------------------------

  private val liFeatures = Seq("l_quantity", "l_discount", "l_tax")

  /** Driver-side replay of quantize→dequantize (the [[Quantize]] closed
    * form) for query/centroid vectors, so searches over the compressed
    * store compare like with like. */
  private def deqDriver(v: Seq[Double]): Seq[Double] = {
    val ma = v.map(math.abs).max
    if (ma == 0.0) v.map(_ => 0.0)
    else v.map(x => math.floor(x / ma * 127.0 + 0.5) * (ma / 127.0))
  }

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

  /** Deterministic k-means seed shared by q_kmeans / q_semantic_dedup: the
    * first 8 base embeddings by vec_id (the q_knn_ivf convention). */
  private def first8Centroids(emb: DataFrame): Seq[Seq[Double]] =
    emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq

  /** The similarity queries' probe: the embedding of `vec_id = 0`. */
  private def queryVector(emb: DataFrame): Seq[Double] =
    emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq

  /** The as-of queries' sides: click events (the carried values) and
    * purchase events (the probes, renamed to `probe_ts` / `purchase_id`). */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click").select("user_id", "ts", "value", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("probe_ts"), col("event_id").as("purchase_id"))
    (clicks, purchases)
  }

  private def eventsWindowed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("event_type"), 1).over(w).as("next_type")
    )
  }

  private def scoreDF(s: SparkSession, m: Seq[(String, Double)]): DataFrame = {
    import s.implicits._
    m.toDF("feature", "score").select(col("feature"), round(col("score"), 6).as("score"))
  }

  /** tidy scores rounded to 6 dp: raw doubles carry last-bit FP differences
    * across parallelism levels (summation order), which would make the
    * dumped parquet non-deterministic between verify runs. */
  private def tidy6(f: graft.select.FittedSelector, s: SparkSession): DataFrame =
    f.scoresDF(s).select(col("variable"), round(col("score"), 6).as("score"))

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- temporal: as-of join + windowed features (north_rule core) ----
    "q_asof_join" -> ((s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("user_id"), col("probe_ts"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }),
    // tolerance variant: a carried click older than 10 minutes is as good
    // as absent (the point-in-time feature-freshness bound)
    "q_asof_tolerance" -> ((s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        toleranceSeconds = Some(600), tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("user_id"), col("probe_ts"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }),
    // standalone revisit dedup: one row per (key, ts) revisit group by
    // deterministic precedence; duplicates synthesized so the fixture
    // actually exercises the drop (a clone of every 3rd event)
    "q_dedup_latest" -> ((s, dir) => {
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
      val dups = ev.where(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("value", col("value") + 1.0)
      Windows.dedupLatest(ev.unionByName(dups), "user_id", "ts",
        Seq(col("value").desc, col("event_id")))
        .select("event_id", "user_id", "ts", "value").orderBy("event_id")
    }),
    "q_lag_lead" -> ((s, dir) => eventsWindowed(s, dir).orderBy("event_id")),
    // semi-structured prop extraction (the source-side JSON column every
    // event/crawl table carries): built-in get_json_object — a pure
    // map-side projection, no UDF; missing paths are null in both engines
    "q_event_props" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        coalesce(get_json_object(col("props"), "$.missing").cast("long"), lit(-1L))
          .as("k_missing"))
        .orderBy("event_id")),
    "q_rolling" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Windows.rollingCount("user_id", "ts", 3600).as("cnt_1h"),
        round(Windows.rollingSum(col("value"), "user_id", "ts", 3600), 2).as("sum_1h")
      ).orderBy("event_id")),
    "q_backfill" -> ((s, dir) => {
      val v = when(col("event_type") === "error", lit(null)).otherwise(col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        col("event_id"),
        last(v, ignoreNulls = true).over(w).as("filled_value")
      ).orderBy("event_id")
    }),
    "q_sessionize" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("session_id", Windows.sessionId("user_id", "ts", 1800))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts").as("session_start"),
          max("ts").as("session_end"),
          round(sum("value"), 2).as("session_value"))
        .orderBy("user_id", "session_id")
    }),
    // ---- dedup family ----
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextFeatures.fingerprintMd5(col("text")).as("text_md5"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_id"))
        .orderBy("canonical_id")
    }),
    "q_jaccard_target" -> ((s, dir) => {
      Dedup.jaccardVsTarget(t(s, dir, "documents"), "doc_id", "text", 3, 0L)
        .select(col("doc_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_id")
    }),
    "q_minhash_pairs" -> ((s, dir) => {
      val sigs = Dedup.minHashSignatures(t(s, dir, "documents"), "doc_id", "text", 3, 8)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 4, rowsPerBand = 2).orderBy("a", "b")
    }),
    "q_simhash_pairs" -> ((s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text")
      Dedup.simHashCandidates(sigs, "doc_id", maxHamming = 3).orderBy("a", "b")
    }),
    // maxDocFreq guards the shingle self-join against ubiquitous shingles
    // (this corpus has a ~30-word vocabulary, so common 3-grams appear in
    // thousands of docs — exactly the skew the guard exists for)
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5, maxDocFreq = 100)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),
    // ---- text analysis ----
    "q_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFeatures.tokenCount(col("text")).as("n_tokens"),
        TextFeatures.wordCount(col("text")).as("n_words")
      ).orderBy("doc_id")
    }),
    "q_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        round(TextFeatures.meanTokenLen(col("text")), 6).as("mean_token_len"),
        round(TextFeatures.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFeatures.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFeatures.qualityScore(col("text")), 6).as("quality")
      ).orderBy("doc_id")
    }),
    // Gopher-family repetition filters: word/2-gram/3-gram repetition
    // fractions per document (one explode + one hash agg, no per-n rescan)
    "q_repetition" -> ((s, dir) =>
      Repetition.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.fingerprintMd5(col("text")).as("md5"))
        .orderBy("doc_id")
    }),
    // md5-derived token hashes so DuckDB can recompute the fold exactly
    "q_fingerprint_rolling" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.rollingFingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    // benchmark decontamination: the first 5 docs stand in for an eval
    // benchmark; every doc is scored by the fraction of its 3-grams that
    // appear in the benchmark's n-gram set (broadcast semi-join)
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(d, "doc_id", "text",
        d.where(col("doc_id") < 5), "text", n = 3)
        .select(col("doc_id"), col("total_ngrams"), col("contaminated_ngrams"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    }),
    // the too-big-to-broadcast variant: broadcast-Bloom semi-join reduction
    // gating the corpus gram stream map-side, exact-verified — bit-identical
    // to the un-filtered score by construction (no false negatives)
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationLarge(d, "doc_id", "text",
        d.where(col("doc_id") < 8), "text", n = 2)
        .select(col("doc_id"), col("total_ngrams"), col("contaminated_ngrams"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    }),
    // deterministic corpus split: portable md5-bucket variant so DuckDB
    // reproduces the exact membership of every split; the xxhash64
    // production variant is pinned by CurationSpec
    "q_hash_split" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Sampling.splitByHashMd5(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy("doc_id")),
    // per-domain quota: top-3 docs per source by quality (rounded to the
    // cross-engine-stable 6 dp before ordering), doc_id tiebreak
    "q_domain_quota" -> ((s, dir) => {
      // fanOut: the quality-score regex chain is the dominant per-row work
      // and otherwise runs on the one-split scan (measured: a 0.3 s
      // single-task stage = ~half the query); one action downstream, so
      // the exchange executes once (the curation-pipeline precedent)
      val d = graft.core.Partitions.fanOut(t(s, dir, "documents"))
        .withColumn("quality", round(TextFeatures.qualityScore(col("text")), 6))
      Sampling.domainQuota(d, col("source"), 3, Seq(col("quality").desc, col("doc_id")))
        .select("doc_id", "source", "quality").orderBy("doc_id")
    }),
    // deterministic per-stratum downsampling: md5-portable variant, exact
    // membership replayed by DuckDB; fractions 0.25/0.5/0.75 by source id
    // (binary-exact doubles, so the < comparison agrees cross-engine)
    "q_stratified_sample" -> ((s, dir) => {
      val fr = (0 until 20).map(i => s"src$i" -> ((i % 3) + 1) * 0.25).toMap
      t(s, dir, "documents")
        .where(Sampling.stratifiedSampleMd5(col("doc_id"), col("source"), fr))
        .select("doc_id", "source").orderBy("doc_id")
    }),
    // Efraimidis–Spirakis weighted sample (k largest u^(1/w)), weight =
    // token count, u from the portable md5 bucket — membership is a pure
    // function of (doc_id, weight), reproduced exactly by the oracle
    "q_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("weight", TextFeatures.tokenCount(col("text")))
      Sampling.weightedSampleMd5(d, col("doc_id"), col("weight"), k = 50)
        .select(col("doc_id"), col("weight"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy("doc_id")
    }),
    // token-budget selection: keep the longest docs (n_chars desc, doc_id
    // tiebreak — 189 tied scores exercise the total order) until the 10k-
    // token budget fills; budget_start is the exact preceding-token sum
    "q_budget_select" -> ((s, dir) => {
      Sampling.budgetSelect(
        t(s, dir, "documents"),
        score = col("n_chars"),
        tokens = TextFeatures.tokenCount(col("text")),
        id = col("doc_id"),
        budget = 10000L)
        .select(col("doc_id"), col("n_chars"), col("budget_start"))
        .orderBy("doc_id")
    }),
    // data-mixing: per-source token budgets, best docs fill each stratum
    // independently; sources outside the mix are dropped
    "q_budget_mix" -> ((s, dir) => {
      Sampling.budgetSelectStratified(
        t(s, dir, "documents"),
        stratum = col("source"),
        score = col("n_chars"),
        tokens = TextFeatures.tokenCount(col("text")),
        id = col("doc_id"),
        budgets = Map("src1" -> 900L, "src2" -> 600L, "src3" -> 300L))
        .select(col("doc_id"), col("source"), col("n_chars"), col("budget_start"))
        .orderBy("doc_id")
    }),
    // PII redaction mechanism check: the corpus has no PII, so the query
    // plants deterministic synthetic PII (email + IPv4 + phone derived from
    // doc_id) and both engines must redact the SAME bytes
    "q_redact_pii" -> ((s, dir) =>
      // synthesized PII per doc exercises every pattern class: email, IPv4,
      // compressed IPv6, separated card, +CC international phone, US phone —
      // plus deliberate NON-matches (hyphenated ISBN, dotted version string)
      // that must survive redaction byte-identically
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFeatures.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com via 10.2."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".9 or 555-010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" node 2001:db8::"),
          (pmod(col("doc_id"), lit(9999)) + 1).cast("string"),
          lit(" card 4111-1111-1111-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" intl +44 20 7946 "),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" isbn 978-3-16-148410-0 build v1.2.3"))).as("redacted"))
        .orderBy("doc_id")),
    // Unicode NFC canonicalization: decomposed accents appended to every
    // doc must compose identically in Spark (java.text.Normalizer) and
    // DuckDB (nfc_normalize) — the dedup-key precondition on web text
    "q_normalize" -> ((s, dir) => {
      def decorated = concat(col("text"), lit(normFixtureSuffix))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFeatures.normalizeNfc(decorated).as("norm_text"),
        (TextFeatures.normalizeNfc(decorated) =!= decorated).as("changed"))
        .orderBy("doc_id")
    }),
    // HTML -> text extraction: deterministic per-doc html synthesized from
    // the corpus text (script/style/comment payloads, entities incl. a
    // double-encoded one, block boundaries, two links), then the full
    // extraction chain — replayed step-for-step by DuckDB's RE2
    "q_html_extract" -> ((s, dir) => {
      def html = concat(
        lit("<html><head><title>Doc &amp; "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style></head><body><script>var x=1;</script><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><!-- hidden <p>markup</p> --><p>tail &lt;b&gt;&nbsp;end &amp;lt;lit</p>" +
          "<a href=\"/a\">x</a><a href=\"/b\">y</a></body></html>"))
      t(s, dir, "documents").select(
        col("doc_id"),
        HtmlExtract.extractText(html).as("extracted"),
        HtmlExtract.title(html).as("title"),
        HtmlExtract.linkCount(html).cast("long").as("n_links"))
        .orderBy("doc_id")
    }),
    // URL parse/normalize: four deterministic url shapes per doc (scheme-less
    // + co.uk zone, credentialed, IPv4-literal with default port, uppercase
    // host with :443/params/fragment) through the full feature set
    "q_url_parse" -> ((s, dir) => {
      def url = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("example.co.uk/path"), pmod(col("doc_id"), lit(5)).cast("string"), lit("/")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://user@Sub."), col("source"), lit(".Test.ORG/x/y/z?q="),
            col("doc_id").cast("string"), lit("#f")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("http://192.168.3."), pmod(col("doc_id"), lit(250)).cast("string"), lit(":80/")))
        .otherwise(
          concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/a/b"),
            pmod(col("doc_id"), lit(3)).cast("string"), lit("/page?id="),
            col("doc_id").cast("string"), lit("&ref=feed#frag")))
      t(s, dir, "documents").select(
        col("doc_id"),
        UrlFeatures.scheme(url).as("scheme"),
        UrlFeatures.host(url).as("host"),
        UrlFeatures.registrableDomain(url).as("domain"),
        UrlFeatures.path(url).as("path"),
        UrlFeatures.pathDepth(url).cast("long").as("path_depth"),
        UrlFeatures.queryParamCount(url).cast("long").as("n_params"),
        UrlFeatures.normalize(url).as("normalized"))
        .orderBy("doc_id")
    }),
    // C4-style corpus-level line dedup: the corpus text is single-line, so
    // the query synthesizes deterministic 4-token lines per doc (replayed
    // relationally in DuckDB), then drops every line occurring more than
    // once corpus-wide and rebuilds the documents
    "q_line_dedup" -> ((s, dir) => {
      val toks = TextFeatures.tokens(col("text"))
      val nLines = ceil(size(toks) / lit(4.0)).cast("int")
      val synth = t(s, dir, "documents").select(
        col("doc_id"),
        when(nLines > 0,
          array_join(transform(sequence(lit(0), nLines - 1),
            j => concat_ws(" ", slice(toks, j * 4 + 1, lit(4)))), "\n"))
          .otherwise(lit("")).as("line_text"))
      Dedup.dedupLines(synth, "doc_id", "line_text", maxCount = 1).orderBy("doc_id")
    }),
    // near-dup cluster RESOLUTION: synthesized duplicate chains (consecutive
    // ids linked, broken at multiples of 7, occasionally cross-linked) must
    // collapse to per-component minimum canonical ids — transitive closure
    // the pairwise operators never compute; DuckDB replays it with a
    // recursive CTE
    "q_dedup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val cross = d.where(pmod(col("doc_id"), lit(50)) === 0 && col("doc_id") >= 14)
        .select(col("doc_id").as("a"), (col("doc_id") - 14).as("b"))
      Dedup.resolveClusters(chain.unionByName(cross), "a", "b")
        .orderBy("doc_id")
    }),
    // cluster CANONICALIZATION over the same synthesized chains: one
    // representative per component by (n_chars desc, doc_id) — the
    // quality-keeps-the-best policy, not min-id — plus the component size
    "q_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val d = docs.select(col("doc_id"))
      val chain = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val cross = d.where(pmod(col("doc_id"), lit(50)) === 0 && col("doc_id") >= 14)
        .select(col("doc_id").as("a"), (col("doc_id") - 14).as("b"))
      Dedup.canonicalize(docs, chain.unionByName(cross), "doc_id", "a", "b",
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("cluster_id"), col("doc_id"), col("n_chars"), col("cluster_size"))
        .orderBy("cluster_id")
    }),
    // exact duplicated-substring dedup (Lee et al. 2022): a shared 5-token
    // header on every doc and a shared 5-token footer on every 5th doc are
    // cut wherever their 4-grams repeat corpus-wide (plus whatever natural
    // 4-gram dups the small-vocab corpus contains — the oracle replays the
    // identical hash counts); portable md5-48 gram hashes
    "q_dup_spans" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text2", concat(
        lit("terms of service apply here "), col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" standard footer disclaimer text block")).otherwise(lit(""))))
      Dedup.duplicateSpans(d, "doc_id", "text2", k = 4, maxCount = 1, portableMd5 = true)
        .orderBy("doc_id")
    }),
    // deterministic corpus shuffle: the md5-portable global shuffle order,
    // exact rank replayed by DuckDB's row_number over the same hash
    "q_shuffle_rank" -> ((s, dir) =>
      Sampling.shuffleRankMd5(t(s, dir, "documents").select("doc_id"), col("doc_id"))
        .select("doc_id", "shuffle_rank").orderBy("doc_id")),
    // the one-call CURATION CHAIN, end to end: quality gate -> language
    // gate -> exact dedup (min doc_id per content md5) -> per-source quota
    // (top-5 by quality) -> deterministic split assignment. Each stage is
    // an operator oracled on its own; this query pins their COMPOSITION
    // (the filter->dedup->quota->split order a real corpus build runs)
    "q_curation_pipeline" -> ((s, dir) => {
      // fanOut: quality/langid/fingerprint are per-row text work that
      // otherwise runs on the corpus's ONE input split (measured: a 3.3 s
      // single-task stage, ~the whole query)
      val gated = graft.core.Partitions.fanOut(t(s, dir, "documents"))
        .withColumn("quality", round(TextFeatures.qualityScore(col("text")), 6))
        .withColumn("lang_pred", TextFeatures.langId(col("text")))
        .where(col("quality") >= 0.5 && col("lang_pred") === "en")
      val deduped = Dedup.exact(gated, TextFeatures.fingerprintMd5(col("text")), col("doc_id"))
      Sampling.domainQuota(deduped, col("source"), 5,
        Seq(col("quality").desc, col("doc_id")))
        .select(col("doc_id"), col("source"), col("quality"),
          Sampling.splitByHashMd5(col("doc_id"),
            Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy("doc_id")
    }),
    // end-to-end TRAINING-SEQUENCE PREP: language gate -> trained NB
    // classifier gate (fit on the full corpus, lang='en' seed, the
    // q_nb_quality model) -> exact dedup -> 64-token chunking -> global
    // sequence packing of the chunk stream. Every stage deterministic and
    // replayed in one DuckDB statement
    "q_training_prep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = graft.text.NbQuality.fit(d, "text", col("lang") === "en", buckets = 4096)
      // relative gate: keep docs scoring >= the corpus median (top half) —
      // the practical classifier-filter deployment; the absolute scale of
      // NB log-odds is corpus-dependent. approxQuantile(err=0) returns an
      // exact data value == DuckDB quantile_disc (the repo convention).
      val scored = graft.text.NbQuality.score(d, "doc_id", "text", m).cache()
      val thr = scored.stat.approxQuantile("log_odds", Array(0.5), 0.0)(0)
      val gated = d.join(
        scored.where(col("log_odds") >= thr).select("doc_id"), "doc_id")
        .where(col("lang") === "en")
      val deduped = Dedup.exact(gated, TextFeatures.fingerprintMd5(col("text")), col("doc_id"))
      val chunks = Packing.chunkByTokens(
        deduped.select("doc_id", "text"), "text", maxTokens = 64, overlap = 0)
        // chunk_id = doc_id·2²⁰ + idx: collision-free for any document
        // under 2²⁰ chunks (= 64 M tokens at this window) and any doc_id
        // under 2⁴³ — packSequences requires unique ids
        .select((col("doc_id") * lit(1048576L) + col("chunk_idx")).as("chunk_id"),
          col("doc_id"), col("chunk_idx"), col("chunk_tokens"))
      Packing.packSequences(chunks, "chunk_id", "chunk_tokens", budget = 128)
        .select("chunk_id", "doc_id", "chunk_idx", "chunk_tokens",
          "global_start", "first_seq", "last_seq")
        .orderBy("chunk_id")
    }),
    // sequence packing (concat-and-chunk): exact global token offsets via
    // the two-phase bucketed prefix sum; DuckDB replays with one window
    "q_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFeatures.tokenCount(col("text")).cast("long").as("n_toks"))
      Packing.packSequences(d, "doc_id", "n_toks", budget = 512)
        .select("doc_id", "n_toks", "global_start", "first_seq", "last_seq")
        .orderBy("doc_id")
    }),
    // per-document chunking: overlapping maxTokens-token windows (stride =
    // max − overlap), map-side Generate only; chunk text single-space
    // rejoined (the rebuild convention) — replayed by DuckDB list_slice
    "q_chunk_text" -> ((s, dir) =>
      Packing.chunkByTokens(
        t(s, dir, "documents").select("doc_id", "text"),
        "text", maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")),
    // corpus vocabulary: exact top-k lowercased token counts, tie on token
    "q_vocab_topk" -> ((s, dir) =>
      TextFeatures.vocabTopK(t(s, dir, "documents"), "text", k = 100)
        .orderBy(desc("freq"), col("token"))),
    // CCNet-style LM quality score: mean bits per char transition under the
    // corpus's own add-one char-bigram model — fully replayed in DuckDB
    "q_lm_score" -> ((s, dir) =>
      LmScore.charBigramScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("lm_bits"), 6).as("lm_bits"))
        .orderBy("doc_id")),
    // fastText-style model-based quality gate, deterministic core: hashed
    // bag-of-words Naive Bayes (md5-48 unigram buckets, add-one log-odds)
    // trained on lang='en' as the seed class, scored map-side via the fused
    // BucketWeightSum expression; training AND scoring replayed in DuckDB
    "q_nb_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = graft.text.NbQuality.fit(d, "text", col("lang") === "en", buckets = 4096)
      graft.text.NbQuality.score(d, "doc_id", "text", m)
        .select(col("doc_id"), round(col("log_odds"), 6).as("log_odds"))
        .orderBy("doc_id")
    }),
    // DSIR data selection (Xie et al. 2023): importance log-weights of a
    // target-domain char-bigram LM (the English subset) against the
    // background model (whole corpus), then Gumbel-top-k resampling in log
    // space — both the weights and the exact sample membership replayed by
    // DuckDB over the same md5 buckets
    "q_dsir_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // model caches stay on the session-LRU lifetime (the registered-query
      // convention): releasing before the lazy execution would forfeit them.
      // Both models from ONE corpus scan (charBigramModels).
      val (target, background) = LmScore.charBigramModels(d, "text", col("lang") === "en")
      val w = LmScore.importanceLogWeights(d, "doc_id", "text", target, background)
      Sampling.weightedSampleLogMd5(w, col("doc_id"), col("log2_w"), k = 25)
        .select(col("doc_id"), round(col("log2_w"), 6).as("log2_w"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy("doc_id")
    }),
    // BM25 ranked retrieval: the posting-list join restricted to the
    // query's terms (shuffle is O(matches)); idf/tf/length-norm replayed
    // exactly in SQL over the shared whitespace tokenization
    "q_bm25" -> ((s, dir) =>
      Bm25.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "merge", "window"), k = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")),
    // corpus observability report: per (lang, source) doc/token/char sums
    // and each cell's share of corpus tokens (1-row broadcast total)
    "q_corpus_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_toks", TextFeatures.tokenCount(col("text")).cast("long"))
      val cells = d.groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      val total = cells.agg(sum(col("sum_tokens")).as("__tot"))
      cells.crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n_docs"), col("sum_tokens"),
          col("sum_chars"),
          round(col("sum_tokens") / col("__tot"), 6).as("token_share"))
        .orderBy("lang", "source")
    }),
    // link-graph centrality (exact-integer PageRank, 3 iterations) over a
    // deterministic synthetic link graph: each doc links to the 3 docs
    // whose ids are md5-48(doc_id#j) mod N — the same edges and the same
    // integer recurrence replayed by unrolled DuckDB CTEs. N rides into
    // the plan as a broadcast 1-row count (same pmod arithmetic as the
    // previous driver-side count literal — one sequential driver job
    // fewer per graph query, the measured floor of this family)
    "q_pagerank" -> ((s, dir) => {
      graft.graph.PageRank.pageRank(md5Edges(t(s, dir, "documents")), "src", "dst", iters = 3)
        .select(col("node").as("doc_id"), col("rank_scaled"),
          round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }),
    // HITS hubs/authorities: exact-integer downshift normalization over
    // the q_pagerank edge fixture — the same integer comparisons and
    // divisions unrolled in SQL. The per-half-step downshift rides the
    // plan as a broadcast scalar (zero driver actions in the loop)
    "q_hits" -> ((s, dir) => {
      graft.graph.PageRank.hits(md5Edges(t(s, dir, "documents")), "src", "dst",
        iters = 3, scaleBits = 40)
        .orderBy("node")
    }),
    // per-node link statistics over the same md5-derived edge fixture as
    // q_pagerank: degrees, distinct neighbors, reciprocal links
    "q_link_stats" -> ((s, dir) => {
      graft.graph.PageRank.linkStats(md5Edges(t(s, dir, "documents")), "src", "dst")
        .orderBy("node")
    }),
    // int8 embedding quantization: exact closed-form rounding replayed by
    // DuckDB element-for-element (codes comma-joined — the hash comparator
    // handles scalar columns only; element order is preserved in the string)
    "q_quantize" -> ((s, dir) =>
      // null embeddings (none in the fixture, but aligned anyway): null
      // scale and null codes on BOTH sides — concat_ws would otherwise fold
      // Spark's null array to '' while array_to_string keeps NULL
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(Quantize.scale(col("embedding")), 6).as("scale"),
        when(col("embedding").isNull, lit(null))
          .otherwise(concat_ws(",", Quantize.quantize(col("embedding")))).as("codes"))
        .orderBy("vec_id")),
    // ---- similarity search ----
    "q_cosine_sims" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      Similarity.cosineToQuery(emb, "embedding", q)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("vec_id")
    }),
    "q_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    // multi-probe (Hamming <= 2 of the query bucket, ~22/64 buckets scanned)
    // restores recall lost to single-probe while keeping the scan pruned
    "q_knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val planes = Similarity.hyperplanes(6, q.length)
      Similarity.lshTopK(emb, "vec_id", "embedding", q, 10, planes, probeHamming = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    // IVF: the first 8 corpus vectors act as deterministic coarse centroids;
    // search probes the 3 nearest cells and exact-reranks only those
    "q_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val centroids = first8Centroids(emb)
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10, centroids, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    // search over the COMPRESSED store: brute-force cosine top-k on
    // dequantized int8 vectors (query quantized driver-side with the same
    // closed-form rule) — pins that the quantize→search path reproduces
    // cross-engine, not just the codes themselves
    "q_knn_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val store = emb.select(col("vec_id"),
        Quantize.quantize(col("embedding")).as("codes"),
        Quantize.scale(col("embedding")).as("scale"))
      // fused Int8CosineSimilarity: dequantization happens inside the one
      // codegen loop (bit-equal to the dequantize→cosine chain, spec-pinned)
      Similarity.bruteForceTopKInt8(store, "vec_id", "codes", "scale", deqDriver(q), 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    // pruned search over the COMPRESSED store: IVF cell assignment AND
    // scoring both ride the fused int8 expression, so the probe scan reads
    // 4x fewer bytes than the float path while returning the identical
    // (dequantized-space) results
    "q_knn_quantized_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val centroids = first8Centroids(emb).map(deqDriver)
      val store = emb.select(col("vec_id"),
        Quantize.quantize(col("embedding")).as("codes"),
        Quantize.scale(col("embedding")).as("scale"))
      Similarity.ivfTopKInt8(store, "vec_id", "codes", "scale", deqDriver(q), 10,
        centroids, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    // deterministic distributed Lloyd refinement: 2 k-means iterations from
    // the first-8 seed, exact fixed-point centroid sums (decimal(38,0) over
    // 2^-50-snapped coordinates) — centroids, hence assignments, are
    // bit-identical at any parallelism and the DuckDB oracle replays BOTH
    // iterations to the last bit
    "q_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cents, _) = Similarity.kmeans(emb, "embedding", first8Centroids(emb), iters = 2)
      Similarity.assignCentroid(emb, "embedding", cents)
        .select(col("vec_id"), col("cell").as("cluster"),
          round(col("cell_sim"), 6).as("cosine"))
        .orderBy("vec_id")
    }),
    // SemDeDup end-to-end: plant two tiers of scaled near-dup twins (float
    // perturbations are bit-identical cross-engine), refine centroids with
    // the deterministic k-means, dedup within cells at cosine >= 0.9, keep
    // per duplicate group the member least similar to its centroid
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      def plant(offset: Int, maxId: Int, even: Float, odd: Float) =
        emb.where(col("vec_id") < maxId)
          .select((col("vec_id") + offset).as("vec_id"),
            transform(col("embedding"),
              (x, i) => x * when(i % 2 === 0, lit(even)).otherwise(lit(odd))).as("embedding"))
      val corpus = emb
        .unionByName(plant(100000, 30, 1.28f, 0.72f))
        .unionByName(plant(200000, 10, 1.04f, 0.96f))
      val (cents, _) = Similarity.kmeans(corpus, "embedding", first8Centroids(emb), iters = 2)
      Similarity.semanticDedup(corpus, "vec_id", "embedding", cents, minCosine = 0.9)
        .select(col("cluster_id"), col("vec_id"), col("cell"),
          round(col("cell_sim"), 6).as("cosine"), col("cluster_size"))
        .orderBy("cluster_id")
    }),
    // ---- filter scores ----
    "q_corr_pearson" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = Correlation.pearson(li, liFeatures, "l_extendedprice")
      scoreDF(s, liFeatures.map(f => f -> m(f).get)).orderBy("feature")
    }),
    "q_corr_spearman" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = Correlation.spearman(li, liFeatures, "l_extendedprice")
      scoreDF(s, liFeatures.map(f => f -> m(f).get)).orderBy("feature")
    }),
    // full CAR with the AUTO-estimated shrinkage intensity (care::carscore
    // lambda=NA default). p=2 keeps R_X^{-1/2} in closed form, so the DuckDB
    // oracle replays the ENTIRE computation — Schäfer–Strimmer λ* included.
    "q_car_lambda" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val feats = Seq("l_quantity", "l_discount")
      val lam = Correlation.estimateLambda(li, feats :+ "l_extendedprice")
      // pass the already-estimated intensity: carScores(None) would run the
      // two estimateLambda aggregation jobs a second time for a bit-equal
      // result (StatsSpec pins auto == pinned at 1e-12)
      val car = Correlation.carScores(li, feats, "l_extendedprice", Some(lam))
      // 4 dp, not 6: the replay accumulates multi-stage float error (z-scores,
      // 4th-power sums, λ*, closed-form eigens) — same precedent as the OLS
      // coefficients and F-stats, where engines only agree to ~1e-7
      feats.map(f => (f, car(f), lam)).toDF("feature", "score", "lambda")
        .select(col("feature"), round(col("score"), 4).as("score"),
          round(col("lambda"), 4).as("lambda"))
        .orderBy("feature")
    }),
    "q_entropy_scores" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val long0 = Melt.numeric(li, liFeatures, keep = Seq("l_returnflag", "l_orderkey", "l_linenumber"))
      val binned = Binning.ntileBins(long0, 5, struct(col("l_orderkey"), col("l_linenumber")))
        .select(col("feature"), col("bin").as("xb"), col("l_returnflag").as("yb"))
      Entropy.entropyTerms(binned).select(
        col("feature"),
        round(col("hx") + col("hy") - col("hxy"), 6).as("infogain"),
        round((col("hx") + col("hy") - col("hxy")) / col("hx"), 6).as("gainratio"),
        round(lit(2) * (col("hx") + col("hy") - col("hxy")) / (col("hx") + col("hy")), 6).as("symuncert")
      ).orderBy("feature")
    }),
    "q_chisq_stat" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderstatus"),
        col("o_orderpriority"),
        when(col("o_totalprice") > 100000, "hi").otherwise("lo").as("value_bucket"))
      val long = Melt.categorical(o, Seq("o_orderpriority", "value_bucket"), keep = Seq("o_orderstatus"))
        .select(col("feature"), col("value").as("xb"), col("o_orderstatus").as("yb"))
      val counts = ChiSq.contingency(long).collect()
      val stats = counts.groupBy(_.getString(0)).toSeq.map { case (f, rows) =>
        val xs = rows.map(_.get(1).toString).distinct.sorted
        val ys = rows.map(_.get(2).toString).distinct.sorted
        val obs = Array.ofDim[Double](xs.length, ys.length)
        rows.foreach { r =>
          obs(xs.indexOf(r.get(1).toString))(ys.indexOf(r.get(2).toString)) = r.getLong(3).toDouble
        }
        f -> ChiSq.chisqTest(obs)._1
      }
      scoreDF(s, stats).withColumnRenamed("score", "stat").orderBy("feature")
    }),
    "q_auc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
      val long = Melt.numeric(li, feats, keep = Seq("l_linestatus"))
        .select(col("feature"), col("value"), col("l_linestatus").as("y"))
      Auc.scoresAuto(long, li.select(col("l_linestatus").as("y")))
        .select(col("feature"), round(col("score"), 6).as("score"))
        .orderBy("feature")
    }),
    "q_median_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val med = Binning.exactMedian(docs, "n_chars")
      docs.select(Binning.medianSplitCol(col("n_chars").cast("double"), med).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    // ---- steps without SQL-expressible oracles (rows-only checks) ----
    "q_mrmr" -> ((s, dir) => tidy6(
      MrmrStep(topP = Some(2), nbins = 5)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s)),
    "q_fcbf" -> ((s, dir) => tidy6(
      FcbfStep(minimumSu = 0.0001)
        .fit(t(s, dir, "lineitem"), "l_linestatus",
          Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")), s)),
    "q_asof_strict" -> ((s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        strict = true, tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }),
    "q_salted_count" -> ((s, dir) =>
      Salting.saltedCount(t(s, dir, "events"), "user_id", col("event_id"), 16)
        .orderBy("user_id")),
    "q_revisit_index" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"),
        row_number().over(w).as("visit_no"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))).as("gap_sec")
      ).orderBy("event_id")
    }),
    "q_aov" -> ((s, dir) => {
      val res = Anova.typeISS(t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag"))
      scoreDF(s, res.map(r => r.feature -> r.f))
        .select(col("feature"), round(col("score"), 4).as("f_stat"))
        .orderBy("feature")
    }),
    "q_aov_seq" -> ((s, dir) => {
      import s.implicits._
      Anova.typeISS(t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag", "l_linestatus"))
        .map(r => (r.feature, r.df, BigDecimal(r.f).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("feature", "df", "f_stat")
    }),
    // 4-dp rounding (not 6): MLlib's standardized normal-equation solve and
    // the oracle's Cramer closed form agree to ~1e-7 relative on O(1e3)
    // coefficients — within 4-dp granularity, marginal at 6
    "q_linear" -> ((s, dir) =>
      LinearStep(topP = Some(2))
        .fit(t(s, dir, "lineitem"), "l_extendedprice", liFeatures)
        .scoresDF(s).select(col("variable"), round(col("score"), 4).as("score"))),
    "q_tree" -> ((s, dir) => tidy6(
      TreeStep(topP = Some(2), maxBins = 16)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s)),
    "q_forest" -> ((s, dir) =>
      // impurity mode for the per-round bench budget; permutation mode
      // (the default) is exercised by StepsSpec. Profiled: fit time is
      // linear in trees × nodes (pure stats compute — partitions, maxBins,
      // maxMemoryInMB all ~neutral), so the budget knobs are tree count
      // (10, matching q_boruta), split bins 16, and half-rate subsampling —
      // rankings on these 4 strongly-separated features are unchanged
      tidy6(ForestStep(topP = Some(2), trees = 10, importance = "impurity",
        maxBins = 16, subsample = 0.5)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s)),
    "q_relief" -> ((s, dir) => tidy6(
      ReliefStep(topP = Some(2), sampleSize = 10)
        .fit(t(s, dir, "lineitem"), "l_linestatus", liFeatures), s)),
    "q_boruta" -> ((s, dir) => {
      val sampled = t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(20)) === 0)
      tidy6(BorutaStep(maxRuns = 6, trees = 10)
        .fit(sampled, "l_returnflag", liFeatures), s)
    }),
    // quarters by id: WAV, BMP (REAL pure-JVM decodes: sample stats / pixel
    // luma), PNG (REAL JDK ImageIO decode), raw text (sniff + stub path) —
    // all payloads deterministically derived from (doc_id, text)
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          BinaryFeatures.MediaRow(id, BinaryFeatures.syntheticMedia(id, text))
        }
      BinaryFeatures.decodeFeatures(s, media).toDF().orderBy("id")
    }),
    "q_simhash_sigs" -> ((s, dir) =>
      Dedup.simHash(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),
    // portable 48-bit SimHash (md5 token hash) — DuckDB recomputes the
    // sign-of-bit-sums construction bit-for-bit; the xxhash64 64-bit
    // production variant above stays rows-only
    "q_simhash_md5" -> ((s, dir) =>
      Dedup.simHash48Md5(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),
    // the candidate-JOIN mechanism over the portable signatures: Manku-style
    // multi-table matching (C(6,3) = 20 tables keyed on 3-of-6 8-bit blocks)
    // is exhaustive for Hamming <= 3, so the verified pairs equal DuckDB's
    // brute-force bit_count(xor) <= 3 ground truth — the oracle checks the
    // construction misses nothing and the Hamming verify adds nothing
    "q_simhash_md5_pairs" -> ((s, dir) => {
      val sigs = Dedup.simHash48Md5(t(s, dir, "documents"), "doc_id", "text")
      Dedup.simHashCandidates(sigs, "doc_id", maxHamming = 3,
        sigCol = "simhash48", bits = 48).orderBy("a", "b")
    }),
    // LSH banding over the PORTABLE md5 minhash signatures (2 bands × 2
    // rows): DuckDB recomputes the signatures and the band-equality pairs,
    // verifying the banding mechanism cross-engine
    "q_minhash_md5_pairs" -> ((s, dir) => {
      val sigs = Dedup.minHashSignaturesMd5(t(s, dir, "documents"), "doc_id", "text", 3, 4)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 2, rowsPerBand = 2).orderBy("a", "b")
    }),
    // incremental dedup: odd doc_ids are the "new crawl", even the stored
    // corpus signature index; band-join + component-agreement verify, all
    // replayed on the portable md5 signatures so DuckDB reproduces every
    // match and agreement exactly
    "q_index_matches" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sigs = Dedup.minHashSignaturesMd5(d, "doc_id", "text", 3, 4)
      Dedup.indexMatches(
        sigs.where(pmod(col("doc_id"), lit(2)) === 1),
        sigs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", bands = 2, rowsPerBand = 2, minAgreement = 0.75)
        .select(col("doc_id"), col("dup_of"), round(col("agreement"), 6).as("agreement"))
        .orderBy("doc_id")
    }),
    // GBT importances through the generic VipStep surface (the
    // pull_importances xgboost-analogue path); model-based ⇒ rows-only
    "q_vip_gbt" -> ((s, dir) => {
      val imp = (d: DataFrame, y: String, ps: Seq[String]) => {
        val assembled = new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(ps.toArray).setOutputCol("__features")
          .setHandleInvalid("skip").transform(d)
        val m = new org.apache.spark.ml.regression.GBTRegressor()
          .setFeaturesCol("__features").setLabelCol(y)
          .setMaxIter(5).setMaxDepth(3).setSeed(42L)
          .fit(assembled)
        implicitly[ImportanceExtractor[org.apache.spark.ml.regression.GBTRegressionModel]]
          .importances(m, ps)
      }
      tidy6(VipStep(imp, topP = Some(2))
        .fit(t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(20)) === 0),
          "l_extendedprice", liFeatures), s)
    }),
    // MinHash with a PORTABLE hash (first 12 hex chars of md5 as an
    // integer) so DuckDB can recompute the exact signatures — verifies the
    // minhash mechanism itself cross-engine; the production path
    // (q_minhash_pairs) uses xxhash64 for speed.
    "q_minhash_md5" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      def minhash(i: Int) = array_min(transform(col("sh"), sg =>
        Dedup.md5Hash48(concat(lit(s"$i:"), sg))))
      sh.select(col("doc_id") +: (0 until 4).map(i => minhash(i).as(s"h$i")): _*)
        .orderBy("doc_id")
    }),
    "q_lsh_buckets" -> ((s, dir) => {
      val planes = Similarity.hyperplanes(6, 64)
      Similarity.lshBuckets(t(s, dir, "embeddings"), "embedding", planes)
        .groupBy("bucket").agg(count(lit(1)).as("n")).orderBy("bucket")
    }),
    // The raw corpus has max pairwise cosine ~0.51, so a 0.95 threshold
    // would verify nothing. Plant PERTURBED (not identical) duplicates of
    // the first 20 vectors: alternating per-dimension float weights
    // 1.28/0.72 put each planted pair at cosine ≈ 1/sqrt(1.0784) ≈ 0.96, so
    // the banded LSH must recover genuinely-near pairs through near-miss
    // band signatures (single-band recall here would be ~0.43). Float
    // multiplication by the same constants is bit-identical in DuckDB, so
    // the oracle derives the same fixture and brute-forces the truth. The
    // oracle is exhaustive while the engine is banded, so the banding is
    // sized for a vanishing miss margin at ANY grading scale: 32 bands × 8
    // planes ⇒ per-pair miss ≈ (1 − 0.91⁸)³² ≈ 2e-9 at cosine 0.96
    // (deterministic once seeded; verified empirically at sf0.001/sf0.01).
    "q_cosine_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.where(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * when(i % 2 === 0, lit(1.28f)).otherwise(lit(0.72f))).as("embedding"))
      val planes = Similarity.hyperplanes(256, 64)
      Similarity.cosineNearDupPairs(
        emb.select("vec_id", "embedding").unionByName(planted),
        "vec_id", "embedding", planes, 0.95, bands = 32)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("a", "b")
    }),
    // 32 signatures / 16 bands of 2 rows: P(miss a pair at jaccard 0.8) =
    // (1−0.8²)^16 ≈ 8e-8, so the banding candidates recover every true pair
    // on this corpus and the output equals the brute-force oracle
    "q_near_duplicates" -> ((s, dir) =>
      Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.8, signatures = 32, bands = 16)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),
    // fit through the checkpointed runtime path (fitOrResume) so the driver
    // bench also exercises per-step checkpoint writes + lineage capture;
    // fresh temp dir per call keeps the query a pure function of the input
    // (fitOrResume is eager, so the directory can be removed before return —
    // repeated Bench/Verify runs must not accumulate checkpoint dirs)
    "q_select_pipeline" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select("l_quantity", "l_discount", "l_tax", "l_partkey", "l_extendedprice")
      val steps: Seq[(SelectorStep, Seq[String])] = Seq(
        (CorrStep(topP = Some(3), method = "pearson"): SelectorStep) ->
          Seq("l_quantity", "l_discount", "l_tax", "l_partkey"),
        (CorrStep(threshold = Some(0.5), method = "spearman"): SelectorStep) -> Nil)
      val ckPath = java.nio.file.Files.createTempDirectory("graft-ck-")
      val fitted =
        try graft.runtime.Checkpoints.fitOrResume(
          s, ckPath.toString, steps, li, "l_extendedprice",
          lineage = graft.runtime.Lineage.inputFiles(li).take(3).mkString(","))
        finally {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(ckPath) // close: walk holds dir handles
          try walk.iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      fitted.flatMap(st => st.excluded.map(st.step -> _)).toDF("step", "excluded")
    })
  )

  // ---- DuckDB oracles ----------------------------------------------------

  private val liCase =
    "CASE f.feature WHEN 'l_quantity' THEN l_quantity WHEN 'l_discount' THEN l_discount ELSE l_tax END"

  /** The LSH hyperplanes are deterministic (seeded splitmix), so the ORACLE
    * can embed them as SQL literals generated here — Double.toString
    * round-trips through DuckDB's parser to the identical double, and both
    * engines sum the dot product in ascending index order, so the sign (and
    * hence the bucket) is bit-identical. */
  private def planeLit(p: Array[Double]): String =
    p.map(java.lang.Double.toString).mkString("[", ", ", "]")

  private def bucketSqlExpr(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (pl, p) =>
      s"""(CASE WHEN list_sum(list_transform(range(1, ${pl.length + 1}),
         |   i -> CAST($vec[i] AS DOUBLE) * (${planeLit(pl)}::DOUBLE[])[i])) >= 0
         | THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString("\n + ")

  private lazy val lshPlanes6x64 = Similarity.hyperplanes(6, 64)

  /** DuckDB cosine between two DOUBLE[] expressions, matching the native
    * CosineSimilarity expression bit-for-bit: ascending-index double dot
    * and norms, 0.0 when either norm is zero. */
  private def cosSql(a: String, b: String, dim: Int): String =
    s"""(CASE WHEN list_sum(list_transform($a, x -> x * x)) = 0.0
       |        OR list_sum(list_transform($b, x -> x * x)) = 0.0 THEN 0.0
       |  ELSE list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))
       |    / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |     * sqrt(list_sum(list_transform($b, x -> x * x)))) END)""".stripMargin

  /** Generated DuckDB replay of [[Similarity.kmeans]]: from a CTE
    * `e(vec_id, v DOUBLE[])`, unrolls `iters` Lloyd iterations starting at
    * `c0(cid, cv)` = the first `k` BASE vectors (vec_id < k — plants use
    * offset ids, so the seed matches [[first8Centroids]] on any corpus that
    * unions plants onto the base table). Exactness rides three facts:
    * the 2^-50 snap is pure IEEE ops, decimal(38,0) sums are order-free,
    * and decimal→double is correctly rounded in both engines (verified
    * empirically value-by-value). Produces CTE text ending at
    * `a${"$"}{iters+1}(vec_id, cid, s)` — the final assignment with its
    * cosine — ready to be extended with a SELECT. */
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

  private def kmeansSql(k: Int, dim: Int, iters: Int): String = {
    val S = "1125899906842624.0" // 2^50 — same constant as Similarity.kmeans
    val sb = new StringBuilder
    sb ++= s"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),\n"
    for (t <- 1 to iters + 1) {
      sb ++=
        s"""a$t AS MATERIALIZED (
           |  SELECT vec_id, cid, s FROM (
           |    SELECT vec_id, cid, s,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |    FROM (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cv", dim)} AS s
           |          FROM e CROSS JOIN c${t - 1} c) x) y WHERE rn = 1)""".stripMargin
      if (t <= iters) {
        sb ++=
          s""",
             |s$t AS (
             |  SELECT a.cid, i AS dim,
             |    sum(CAST(floor(e.v[i + 1] * $S + 0.5) AS DECIMAL(38,0))) AS sd,
             |    count(*) AS n
             |  FROM e JOIN a$t a USING (vec_id), unnest(range(0, $dim)) t(i)
             |  GROUP BY 1, 2),
             |c$t AS MATERIALIZED (
             |  SELECT p.cid, COALESCE(nc.cv, p.cv) AS cv FROM c${t - 1} p LEFT JOIN (
             |    SELECT cid, list(CAST(sd AS DOUBLE) / $S / n ORDER BY dim) AS cv
             |    FROM s$t GROUP BY cid) nc USING (cid)),
             |""".stripMargin
      }
    }
    sb.toString
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS probe_ts,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin,
    // tolerance applies to the CARRIED event in Spark (null if too old);
    // filtering inside the subquery is equivalent — if the newest click is
    // outside the window, every older one is too. Epoch-second comparison
    // == Spark's unix_timestamp (both truncate to seconds).
    "q_asof_tolerance" ->
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS probe_ts,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |     AND CAST(epoch(date_trunc('second', c.ts)) AS BIGINT)
        |         >= CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) - 600
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin,
    "q_dedup_latest" ->
      """WITH un AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, ts, value + 1.0 FROM events WHERE event_id % 3 = 0),
        |k AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC, event_id) AS rn
        |      FROM un)
        |SELECT event_id, user_id, ts, value FROM k WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_lag_lead" ->
      """SELECT event_id,
        | lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        | lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q_event_props" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  COALESCE(CAST(json_extract(props, '$.missing') AS BIGINT), -1) AS k_missing
        |FROM events ORDER BY event_id""".stripMargin,
    "q_rolling" ->
      """SELECT event_id, count(*) OVER w AS cnt_1h, round(sum(value) OVER w, 2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_backfill" ->
      """SELECT event_id,
        | last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |              - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end, round(sum(value), 2) AS session_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "q_jaccard_target" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |tgt AS (SELECT s FROM sh WHERE doc_id = 0),
        |tsz AS (SELECT count(*) AS tsz FROM tgt),
        |inter AS (SELECT sh.doc_id, count(*) AS i FROM sh JOIN tgt USING (s) GROUP BY sh.doc_id)
        |SELECT sz.doc_id AS doc_id,
        |  round(CAST(COALESCE(inter.i, 0) AS DOUBLE) / (sz.sz + tsz.tsz - COALESCE(inter.i, 0)), 6) AS jaccard
        |FROM sz LEFT JOIN inter ON sz.doc_id = inter.doc_id CROSS JOIN tsz ORDER BY doc_id""".stripMargin,
    "q_tokens" ->
      """SELECT doc_id,
        | CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[a-z]+')) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM w
        |  UNION ALL
        |  SELECT doc_id, 2 AS n, unnest(CASE WHEN len(ws) >= 2
        |    THEN list_transform(ws[1:len(ws)-1], (x, i) -> x || ' ' || ws[i+1]) ELSE [] END) AS gram FROM w
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, unnest(CASE WHEN len(ws) >= 3
        |    THEN list_transform(ws[1:len(ws)-2], (x, i) -> x || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE [] END) AS gram FROM w),
        |c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rk FROM c),
        |a AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN n = 1 THEN c END) AS BIGINT) AS w_inst,
        |    count(CASE WHEN n = 1 THEN gram END) AS w_grams,
        |    max(CASE WHEN n = 2 AND rk = 1 THEN gram END) AS top_2gram,
        |    max(CASE WHEN n = 2 AND rk = 1 THEN c END) AS top2_cnt,
        |    CAST(sum(CASE WHEN n = 2 THEN c END) AS BIGINT) AS g2_inst,
        |    CAST(sum(CASE WHEN n = 3 AND c > 1 THEN c END) AS BIGINT) AS dup3_inst,
        |    CAST(sum(CASE WHEN n = 3 THEN c END) AS BIGINT) AS g3_inst
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id, w_inst AS n_words,
        |  round((w_inst - w_grams) / CAST(w_inst AS DOUBLE), 6) AS dup_word_frac,
        |  top_2gram,
        |  round(top2_cnt / CAST(g2_inst AS DOUBLE), 6) AS top_2gram_frac,
        |  round(COALESCE(dup3_inst, 0) / CAST(g3_inst AS DOUBLE), 6) AS dup_3gram_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> len(t))) AS DOUBLE) / n END AS mtl,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE) / n END AS sr,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(text) - len(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) / len(text) END AS pr
        |  FROM base)
        |SELECT doc_id, round(mtl, 6) AS mean_token_len, round(sr, 6) AS stopword_ratio,
        |  round(pr, 6) AS punct_ratio,
        |  round((CASE WHEN n >= 20 AND n <= 100000 THEN 1.0 WHEN n >= 5 THEN 0.5 ELSE 0.0 END) * 0.4
        |      + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.4
        |      + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS en,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], t))) AS de,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['le','la','les','et','est','un','une','des','que','pour'], t))) AS fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
        |       WHEN en = greatest(en, de, fr) AND de < en AND fr < en THEN 'en'
        |       WHEN de = greatest(en, de, fr) AND en < de AND fr < de THEN 'de'
        |       WHEN fr = greatest(en, de, fr) AND en < fr AND de < fr THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS md5 FROM documents ORDER BY doc_id",
    "q_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(ma / 127.0, 6) AS scale,
        |  CASE WHEN embedding IS NULL THEN NULL
        |       ELSE array_to_string(
        |         CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
        |              ELSE list_transform(embedding,
        |                     x -> CAST(floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) AS INT)) END,
        |         ',') END AS codes
        |FROM m ORDER BY vec_id""".stripMargin,
    // dequantize both sides with the exact closed form, then the standard
    // cosine top-k (ascending-index sums are bit-identical cross-engine)
    "q_knn_quantized" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |                x -> floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) * (ma / 127.0)) END AS e
        |  FROM m),
        |q AS (SELECT e FROM d WHERE vec_id = 0),
        |s AS (
        |  SELECT d.vec_id,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS c
        |  FROM d CROSS JOIN q)
        |SELECT vec_id, round(c, 6) AS cosine FROM s
        |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    // the q_knn_ivf probe/assign/rerank structure replayed entirely in
    // DEQUANTIZED space (d = the int8 store's reconstruction; MATERIALIZED —
    // it feeds four references). Ties in assign/probe break toward the
    // larger cell id, mirroring ivfAssignInt8's greatest() structs.
    "q_knn_quantized_ivf" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |                x -> floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) * (ma / 127.0)) END AS e
        |  FROM m),
        |q AS (SELECT e FROM d WHERE vec_id = 0),
        |c AS MATERIALIZED (SELECT vec_id AS cid, e AS ce FROM d WHERE vec_id < 8),
        |vc AS (
        |  SELECT d.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * c.ce[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS s
        |  FROM d CROSS JOIN c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
        |  FROM vc) t WHERE rn = 1),
        |probe AS (SELECT cid FROM (
        |  SELECT c.cid,
        |    list_sum(list_transform(range(1, len(c.ce) + 1), i -> c.ce[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(c.ce, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS s
        |  FROM c CROSS JOIN q) t ORDER BY s DESC, cid DESC LIMIT 3),
        |scored AS (
        |  SELECT d.vec_id,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS s
        |  FROM d JOIN assign USING (vec_id) JOIN probe USING (cid) CROSS JOIN q)
        |SELECT vec_id, round(s, 6) AS cosine FROM scored
        |ORDER BY s DESC, vec_id LIMIT 10""".stripMargin,
    // full deterministic-Lloyd replay: e = double-cast embeddings, then
    // kmeansSql unrolls both iterations with exact decimal(38,0) fixed-point
    // centroid sums (order-independent in both engines); a3 is the final
    // assignment with its cosine
    "q_kmeans" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |${kmeansSql(8, 64, 2)}
         |SELECT vec_id, cid AS cluster, round(s, 6) AS cosine FROM a3 ORDER BY vec_id""".stripMargin,
    // SemDeDup replay: plant the two twin tiers (FLOAT perturbations are
    // bit-identical cross-engine), rerun the exact kmeans on the corpus
    // (seed = the 8 base vectors: plants live at +100000/+200000), pairwise
    // within-cell cosine edges at >= 0.9, transitive closure by recursive
    // min-label reachability, keep per group the member LEAST similar to
    // its centroid (ties toward the smaller id)
    "q_semantic_dedup" ->
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |         list_transform(range(1, len(embedding) + 1),
         |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
         |                                THEN CAST(1.28 AS FLOAT)
         |                                ELSE CAST(0.72 AS FLOAT) END)) AS embedding
         |  FROM embeddings WHERE vec_id < 30
         |  UNION ALL
         |  SELECT vec_id + 200000 AS vec_id,
         |         list_transform(range(1, len(embedding) + 1),
         |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
         |                                THEN CAST(1.04 AS FLOAT)
         |                                ELSE CAST(0.96 AS FLOAT) END)) AS embedding
         |  FROM embeddings WHERE vec_id < 10),
         |e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM corpus),
         |${kmeansSql(8, 64, 2)},
         |edges AS MATERIALIZED (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM a3 l JOIN a3 r ON l.cid = r.cid AND l.vec_id < r.vec_id
         |  JOIN e el ON el.vec_id = l.vec_id
         |  JOIN e er ON er.vec_id = r.vec_id
         |  WHERE ${cosSql("el.v", "er.v", 64)} >= 0.9),
         |sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
         |reach(id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |lbl AS MATERIALIZED (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1),
         |mem AS MATERIALIZED (
         |  SELECT a3.vec_id, COALESCE(lbl.cluster_id, a3.vec_id) AS cluster_id,
         |         a3.cid AS cell, a3.s
         |  FROM a3 LEFT JOIN lbl ON a3.vec_id = lbl.id),
         |keep AS (
         |  SELECT * FROM (
         |    SELECT mem.vec_id, mem.cluster_id, mem.cell, mem.s,
         |      row_number() OVER (PARTITION BY mem.cluster_id
         |                         ORDER BY mem.s ASC, mem.vec_id ASC) AS rn
         |    FROM mem) t WHERE rn = 1)
         |SELECT k.cluster_id, k.vec_id, k.cell, round(k.s, 6) AS cosine,
         |  COALESCE(sz.cluster_size, 1) AS cluster_size
         |FROM keep k LEFT JOIN sizes sz ON k.cluster_id = sz.cluster_id
         |ORDER BY k.cluster_id""".stripMargin,
    "q_cosine_sims" ->
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
        |SELECT v.vec_id AS vec_id, round(
        |  list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |FROM embeddings v CROSS JOIN q ORDER BY vec_id""".stripMargin,
    "q_knn_brute" ->
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT v.vec_id AS vec_id,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM embeddings v CROSS JOIN q)
        |SELECT vec_id, round(c, 6) AS cosine FROM s ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "q_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |bg AS MATERIALIZED (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
        |tot AS (SELECT doc_id, count(*) AS total FROM sh GROUP BY doc_id),
        |hit AS (SELECT sh.doc_id, count(*) AS hits FROM sh JOIN bg USING (s) GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(tot.total, 0) AS BIGINT) AS total_ngrams,
        |  CAST(COALESCE(hit.hits, 0) AS BIGINT) AS contaminated_ngrams,
        |  round(CASE WHEN COALESCE(tot.total, 0) = 0 THEN 0.0
        |        ELSE CAST(COALESCE(hit.hits, 0) AS DOUBLE) / tot.total END, 6) AS contamination
        |FROM documents d
        |LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN hit ON d.doc_id = hit.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // bigram variant of the decontamination score — the Bloom-gated Spark
    // path must be bit-identical to the exact score (no false negatives),
    // so the oracle is the plain exact formulation
    "q_decontaminate_bloom" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM bi WHERE pos <= n - 1),
        |bg AS MATERIALIZED (SELECT DISTINCT s FROM sh WHERE doc_id < 8),
        |tot AS (SELECT doc_id, count(*) AS total FROM sh GROUP BY doc_id),
        |hit AS (SELECT sh.doc_id, count(*) AS hits FROM sh JOIN bg USING (s) GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(tot.total, 0) AS BIGINT) AS total_ngrams,
        |  CAST(COALESCE(hit.hits, 0) AS BIGINT) AS contaminated_ngrams,
        |  round(CASE WHEN COALESCE(tot.total, 0) = 0 THEN 0.0
        |        ELSE CAST(COALESCE(hit.hits, 0) AS DOUBLE) / tot.total END, 6) AS contamination
        |FROM documents d
        |LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN hit ON d.doc_id = hit.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // 48-bit md5-prefix bucket (the repo's portable hash) walked against the
    // cumulative 0.8/0.9 thresholds — both engines divide the same exact
    // integer by 1e6, so the comparisons are bit-identical
    "q_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 0.8 THEN 'train' WHEN b < 0.9 THEN 'valid' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 1000000) / 1000000.0 AS b
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // per-stratum hash sampling: same md5 bucket as q_hash_split, fraction
    // (src_index % 3 + 1) * 0.25 — binary-exact doubles both engines
    "q_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 1000000) / 1000000.0 AS b,
        |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 0.25 AS f
        |  FROM documents) t
        |WHERE b < f ORDER BY doc_id""".stripMargin,
    // A-ES sample keys: identical integer bucket, identical (b+0.5)/1e6 and
    // 1/w doubles — only pow's final rounding is libm-dependent (1 ulp,
    // far below the 6-dp round and the inter-key gaps)
    "q_weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS weight,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 1000000) AS bkt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, weight,
        |    CASE WHEN weight IS NULL OR weight <= 0 THEN 0.0
        |         ELSE pow((bkt + 0.5) / 1000000.0, 1.0 / CAST(weight AS DOUBLE)) END AS sk
        |  FROM b)
        |SELECT doc_id, weight, round(sk, 6) AS sample_key FROM (
        |  SELECT * FROM s ORDER BY sk DESC, doc_id LIMIT 50) t
        |ORDER BY doc_id""".stripMargin,
    // greedy budget replay: one window cumsum over the identical total
    // order (n_chars DESC, doc_id); BIGINT cast pins the HUGEINT widening
    "q_budget_select" ->
      """WITH tok AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS budget_start
        |  FROM tok)
        |SELECT doc_id, n_chars, budget_start
        |FROM c WHERE budget_start < 10000 ORDER BY doc_id""".stripMargin,
    // per-stratum greedy replay: window cumsum partitioned by source over
    // the identical (n_chars DESC, doc_id) order, per-source budgets
    "q_budget_mix" ->
      """WITH tok AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents WHERE source IN ('src1', 'src2', 'src3')),
        |c AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS budget_start
        |  FROM tok)
        |SELECT doc_id, source, n_chars, budget_start
        |FROM c
        |WHERE budget_start < CASE source WHEN 'src1' THEN 900 WHEN 'src2' THEN 600 ELSE 300 END
        |ORDER BY doc_id""".stripMargin,
    // same synthetic-PII injection, same three RE2-subset patterns ('g' =
    // replace all, Spark's default); byte-identical redacted strings
    "q_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |           '@mail.example.com via 10.2.', CAST(doc_id % 256 AS VARCHAR),
        |           '.9 or 555-010-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |           ' node 2001:db8::', CAST(doc_id % 9999 + 1 AS VARCHAR),
        |           ' card 4111-1111-1111-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |           ' intl +44 20 7946 ', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |           ' isbn 978-3-16-148410-0 build v1.2.3'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|([0-9A-Fa-f]{1,4}:){1,6}(:[0-9A-Fa-f]{1,4}){1,6})\b', '<IP>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+(\d{6,14}|\d{1,3}[ -]\d{1,4}([ -]\d{2,4}){2,3}|\d{1,3}[ -]?\(\d{1,4}\)[ -]?\d{3,10})\b', '<PHONE>', 'g'),
        |    '\b(\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}([ -]\d{1,3})?|\d{4}[ -]\d{6}[ -]\d{5}|\d{13,19})\b', '<CC>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB's nfc_normalize == java.text.Normalizer NFC byte-for-byte;
    // the suffix literal carries the SAME raw UTF-8 as the Spark fixture
    // (single Scala constant interpolated into both)
    "q_normalize" ->
      // `||`, not concat(): DuckDB's concat SKIPS null arguments while
      // Spark's null-propagates — `||` null-propagates in both engines
      s"""SELECT doc_id,
         |  nfc_normalize(text || '$normFixtureSuffix') AS norm_text,
         |  nfc_normalize(text || '$normFixtureSuffix') <> (text || '$normFixtureSuffix') AS changed
         |FROM documents ORDER BY doc_id""".stripMargin,
    // the full extraction chain replayed stage-for-stage (each CTE is
    // referenced exactly once; all string ops deterministic); chr(10) is the
    // newline replacement (a DuckDB standard string '\n' stays two chars)
    "q_html_extract" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    concat('<html><head><title>Doc &amp; ', CAST(doc_id AS VARCHAR),
        |      '</title><style>p{color:red}</style></head><body><script>var x=1;</script><h1>Doc ',
        |      CAST(doc_id AS VARCHAR), '</h1><p>', text,
        |      '</p><!-- hidden <p>markup</p> --><p>tail &lt;b&gt;&nbsp;end &amp;lt;lit</p>',
        |      '<a href="/a">x</a><a href="/b">y</a></body></html>') AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, h, regexp_replace(regexp_replace(regexp_replace(h,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |  '(?s)<!--.*?-->', ' ', 'g') AS a FROM base),
        |s2 AS (SELECT doc_id, h, regexp_replace(regexp_replace(a,
        |  '(?i)</(p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol|blockquote)>|<br[^>]*>', chr(10), 'g'),
        |  '<[^>]+>', ' ', 'g') AS a FROM s1),
        |s3 AS (SELECT doc_id, h,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(a,
        |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', '''', 'g'),
        |  '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS a FROM s2),
        |s4 AS (SELECT doc_id, h,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(a,
        |  '[ \t\x0B\f\r]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'),
        |  '\n{2,}', chr(10), 'g'), '^\n|\n$', '', 'g') AS a FROM s3)
        |SELECT doc_id, trim(a) AS extracted,
        |  trim(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', '''', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |    '&amp;', '&', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS title,
        |  CAST(length(regexp_extract_all(h, '(?i)<a[ \t\n][^>]*href')) AS BIGINT) AS n_links
        |FROM s4 ORDER BY doc_id""".stripMargin,
    "q_url_parse" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN concat('example.co.uk/path', CAST(doc_id % 5 AS VARCHAR), '/')
        |         WHEN doc_id % 4 = 1 THEN concat('https://user@Sub.', source, '.Test.ORG/x/y/z?q=',
        |                                         CAST(doc_id AS VARCHAR), '#f')
        |         WHEN doc_id % 4 = 2 THEN concat('http://192.168.3.', CAST(doc_id % 250 AS VARCHAR), ':80/')
        |         ELSE concat('HTTPS://WWW.', source, '.Example.COM:443/a/b', CAST(doc_id % 3 AS VARCHAR),
        |                     '/page?id=', CAST(doc_id AS VARCHAR), '&ref=feed#frag')
        |    END AS u
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, u,
        |    regexp_replace(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '', 'g'),
        |                   '^[^/?#@]*@', '', 'g') AS nocreds,
        |    regexp_replace(u, '#.*$', '', 'g') AS nofrag
        |  FROM base),
        |p2 AS (
        |  SELECT doc_id, u, nofrag,
        |    lower(regexp_extract(nocreds, '^([^/:?#]+)', 1)) AS host,
        |    regexp_extract(nocreds, '^[^/?#]*(/[^?#]*)', 1) AS path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS q,
        |    regexp_replace(regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '', 'g'),
        |                   '^[^/?#@]*@', '', 'g') AS ncf
        |  FROM p1)
        |SELECT doc_id,
        |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  host,
        |  CASE WHEN regexp_extract(host, '^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})$', 1) <> ''
        |         THEN regexp_extract(host, '^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})$', 1)
        |       WHEN regexp_extract(host, '([^.]+\.(?:co|com|net|org|ac|gov|edu)\.[^.]+)$', 1) <> ''
        |         THEN regexp_extract(host, '([^.]+\.(?:co|com|net|org|ac|gov|edu)\.[^.]+)$', 1)
        |       WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
        |         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |       ELSE host END AS domain,
        |  path,
        |  CAST(length(regexp_extract_all(path, '/[^/]')) AS BIGINT) AS path_depth,
        |  CAST(CASE WHEN q = '' THEN 0 ELSE length(string_split(q, '&')) END AS BIGINT) AS n_params,
        |  concat(
        |    CASE WHEN regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN ''
        |         ELSE concat(lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '://') END,
        |    regexp_replace(lower(regexp_extract(ncf, '^([^/?#]+)', 1)), ':(80|443)$', '', 'g'),
        |    regexp_replace(regexp_replace(ncf, '^[^/?#]+', '', 'g'), '^/$', '', 'g')
        |  ) AS normalized
        |FROM p2 ORDER BY doc_id""".stripMargin,
    // 4-token line synthesis (relational replay of the Spark HOF chunking),
    // corpus-wide line counts, keep lines with count <= 1, ordered rebuild
    "q_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
        |  FROM documents),
        |l AS MATERIALIZED (
        |  SELECT doc_id, (pos - 1) // 4 AS line_no,
        |         string_agg(tok, ' ' ORDER BY pos) AS line
        |  FROM w GROUP BY 1, 2),
        |c AS MATERIALIZED (SELECT line, count(*) AS lc FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.line_no, l.line, c.lc <= 1 AS keep
        |      FROM l JOIN c USING (line))
        |SELECT d.doc_id,
        |  coalesce(string_agg(CASE WHEN k.keep THEN k.line END, chr(10) ORDER BY k.line_no), '') AS clean_text,
        |  CAST(coalesce(sum(CASE WHEN NOT k.keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS removed_lines
        |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // transitive closure by recursive CTE: reach(v, u) = u reachable from
    // v over the undirected synthesized edges; canonical = min reachable
    "q_dedup_clusters" ->
      """WITH RECURSIVE und AS MATERIALIZED (
        |  SELECT doc_id AS a, doc_id - 1 AS b FROM documents WHERE doc_id % 7 <> 0
        |  UNION
        |  SELECT doc_id - 1 AS a, doc_id AS b FROM documents WHERE doc_id % 7 <> 0
        |  UNION
        |  SELECT doc_id AS a, doc_id - 14 AS b FROM documents WHERE doc_id % 50 = 0 AND doc_id >= 14
        |  UNION
        |  SELECT doc_id - 14 AS a, doc_id AS b FROM documents WHERE doc_id % 50 = 0 AND doc_id >= 14),
        |reach(v, u) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT r.v, e.b FROM reach r JOIN und e ON r.u = e.a)
        |SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS canonical_id
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    // same recursive closure, then best-per-cluster by (n_chars desc,
    // doc_id) + component size; lab referenced twice -> MATERIALIZED
    "q_canonicalize" ->
      """WITH RECURSIVE und AS MATERIALIZED (
        |  SELECT doc_id AS a, doc_id - 1 AS b FROM documents WHERE doc_id % 7 <> 0
        |  UNION
        |  SELECT doc_id - 1 AS a, doc_id AS b FROM documents WHERE doc_id % 7 <> 0
        |  UNION
        |  SELECT doc_id AS a, doc_id - 14 AS b FROM documents WHERE doc_id % 50 = 0 AND doc_id >= 14
        |  UNION
        |  SELECT doc_id - 14 AS a, doc_id AS b FROM documents WHERE doc_id % 50 = 0 AND doc_id >= 14),
        |reach(v, u) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT r.v, e.b FROM reach r JOIN und e ON r.u = e.a),
        |lab AS MATERIALIZED (SELECT v AS doc_id, min(u) AS cid FROM reach GROUP BY v),
        |m AS (
        |  SELECT d.doc_id, d.n_chars, COALESCE(lab.cid, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN lab USING (doc_id)),
        |sz AS (SELECT doc_id AS _i, cid AS cluster_id FROM lab),
        |szc AS (SELECT cluster_id, count(*) AS cs FROM sz GROUP BY cluster_id),
        |r AS (
        |  SELECT m.cluster_id, m.doc_id, m.n_chars,
        |    CAST(COALESCE(szc.cs, 1) AS BIGINT) AS cluster_size,
        |    row_number() OVER (PARTITION BY m.cluster_id ORDER BY m.n_chars DESC, m.doc_id) AS rn
        |  FROM m LEFT JOIN szc USING (cluster_id))
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, doc_id, n_chars, cluster_size
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // duplicated-substring dedup: positional 4-grams via lead() windows,
    // md5-48 digit-sum hashes, corpus counts, coverage expansion and the
    // ordered rebuild — the exact relational replay of duplicateSpans
    "q_dup_spans" ->
      """WITH d2 AS (
        |  SELECT doc_id, concat('terms of service apply here ', text,
        |    CASE WHEN doc_id % 5 = 0 THEN ' standard footer disclaimer text block' ELSE '' END) AS t2
        |  FROM documents),
        |w AS MATERIALIZED (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(t2), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(t2), '\s+'), 1) - 1 AS tpos
        |  FROM d2),
        |g AS (
        |  SELECT doc_id, tpos AS gpos,
        |    concat(tok, ' ', lead(tok,1) OVER dw, ' ', lead(tok,2) OVER dw, ' ', lead(tok,3) OVER dw) AS gram,
        |    count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY tpos)),
        |gh AS MATERIALIZED (
        |  SELECT doc_id, gpos,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(gram), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h
        |  FROM g WHERE gpos <= n - 4),
        |dup AS (SELECT h FROM gh GROUP BY h HAVING count(*) > 1),
        |cov AS MATERIALIZED (
        |  SELECT DISTINCT gh.doc_id, gh.gpos + u.o AS tpos
        |  FROM gh JOIN dup USING (h) CROSS JOIN (SELECT unnest([0,1,2,3]) AS o) u),
        |reb AS (
        |  SELECT w.doc_id, string_agg(w.tok, ' ' ORDER BY w.tpos) AS clean_text
        |  FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.tpos = cov.tpos
        |  WHERE cov.tpos IS NULL GROUP BY w.doc_id),
        |rem AS (SELECT doc_id, count(*) AS removed FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
        |  CAST(COALESCE(rem.removed, 0) AS BIGINT) AS removed_tokens
        |FROM documents d
        |LEFT JOIN reb ON d.doc_id = reb.doc_id
        |LEFT JOIN rem ON d.doc_id = rem.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // GLOBAL-WINDOW-OK (oracle SQL, small scale): one global row_number
    // replays the engine's two-phase bucketed ranking exactly
    "q_shuffle_rank" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank
        |FROM (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(1, 13),
        |          j -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |               * pow(16, 12 - j))) AS BIGINT) AS h
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // full replay of the curation chain: quality + langid (the q_quality /
    // q_langid fragments), filter, md5-dedup row_number, per-source quota
    // row_number, md5-bucket split — every stage deterministic, one pass
    "q_curation_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, text, n,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE) / n END AS sr,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(text) - len(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) / len(text) END AS pr,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS en,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','von'], t))) AS de,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','des','que','pour'], t))) AS fr
        |  FROM base),
        |q AS (
        |  SELECT doc_id, source, text,
        |    round((CASE WHEN n >= 20 AND n <= 100000 THEN 1.0 WHEN n >= 5 THEN 0.5 ELSE 0.0 END) * 0.4
        |        + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.4
        |        + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality,
        |    CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
        |         WHEN en = greatest(en, de, fr) AND de < en AND fr < en THEN 'en'
        |         WHEN de = greatest(en, de, fr) AND en < de AND fr < de THEN 'de'
        |         WHEN fr = greatest(en, de, fr) AND en < fr AND de < fr THEN 'fr'
        |         ELSE 'und' END AS lang_pred
        |  FROM m),
        |f AS (SELECT doc_id, source, text, quality FROM q
        |      WHERE quality >= 0.5 AND lang_pred = 'en'),
        |d AS (SELECT doc_id, source, quality,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn1 FROM f),
        |u AS (SELECT doc_id, source, quality FROM d WHERE rn1 = 1),
        |kq AS (SELECT doc_id, source, quality,
        |         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn2
        |       FROM u)
        |SELECT doc_id, source, quality,
        |  CASE WHEN b < 0.8 THEN 'train' WHEN b < 0.9 THEN 'valid' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source, quality,
        |        (CAST(list_sum(list_transform(range(1, 13),
        |           j -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |                * pow(16, 12 - j))) AS BIGINT) % 1000000) / 1000000.0 AS b
        |      FROM kq WHERE rn2 <= 5) t
        |ORDER BY doc_id""".stripMargin,
    // GLOBAL-WINDOW-OK (oracle SQL, small scale): one cumulative window
    // replays the engine's two-phase bucketed prefix sum exactly
    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |        CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_start
        |      FROM d)
        |SELECT doc_id, n_toks, global_start,
        |  CASE WHEN n_toks > 0 THEN global_start // 512 END AS first_seq,
        |  CASE WHEN n_toks > 0 THEN (global_start + n_toks - 1) // 512 END AS last_seq
        |FROM c ORDER BY doc_id""".stripMargin,
    // training prep replayed end-to-end: NB model (the q_nb_quality CTEs) ->
    // lang+score gate -> md5-dedup row_number -> 64-token chunk counts ->
    // one global packing window (small scale; the engine's two-phase
    // prefix sum equals it, spec-pinned)
    "q_training_prep" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang = 'en' AS pos,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 4096) AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents) t),
        |cnt AS MATERIALIZED (
        |  SELECT b,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM toks GROUP BY b),
        |tot AS MATERIALIZED (
        |  SELECT CAST(sum(cp) AS BIGINT) AS pt, CAST(sum(cn) AS BIGINT) AS nt
        |  FROM cnt),
        |dc AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pd,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nd
        |  FROM documents),
        |score AS MATERIALIZED (
        |  SELECT toks.doc_id,
        |    ln(CAST(pd AS DOUBLE) / nd)
        |      + sum(ln((cnt.cp + 1.0) / (tot.pt + 4096.0))
        |          - ln((cnt.cn + 1.0) / (tot.nt + 4096.0))) AS lo
        |  FROM toks JOIN cnt USING (b) CROSS JOIN tot CROSS JOIN dc
        |  GROUP BY toks.doc_id, pd, nd),
        |thr AS MATERIALIZED (SELECT quantile_disc(lo, 0.5) AS t FROM score),
        |gate AS MATERIALIZED (
        |  SELECT d.doc_id, d.text FROM documents d JOIN score USING (doc_id)
        |  CROSS JOIN thr
        |  WHERE d.lang = 'en' AND score.lo >= thr.t),
        |ded AS MATERIALIZED (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gate) t WHERE rn = 1),
        |dts AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks FROM ded),
        |ck AS MATERIALIZED (
        |  SELECT doc_id, len(tks) AS n,
        |    unnest(range(0, CASE WHEN len(tks) <= 64 THEN 1
        |                        ELSE (len(tks) - 64 + 63) // 64 + 1 END)) AS ci
        |  FROM dts),
        |chunk AS MATERIALIZED (
        |  SELECT doc_id * 1048576 + ci AS chunk_id, doc_id,
        |    CAST(ci AS BIGINT) AS chunk_idx,
        |    CAST(least(64, n - ci * 64) AS BIGINT) AS chunk_tokens
        |  FROM ck),
        |packed AS (
        |  SELECT chunk_id, doc_id, chunk_idx, chunk_tokens,
        |    CAST(coalesce(sum(chunk_tokens) OVER (ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_start
        |  FROM chunk)
        |SELECT chunk_id, doc_id, chunk_idx, chunk_tokens, global_start,
        |  CASE WHEN chunk_tokens > 0 THEN global_start // 128 END AS first_seq,
        |  CASE WHEN chunk_tokens > 0 THEN (global_start + chunk_tokens - 1) // 128 END AS last_seq
        |FROM packed ORDER BY chunk_id""".stripMargin,
    // per-doc chunking: 64-token windows, stride 48, list_slice clamps the
    // tail exactly as Spark's slice length-overrun does
    "q_chunk_text" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 64 THEN 1
        |         ELSE (len(toks) - 64 + 47) // 48 + 1 END AS nc
        |  FROM d),
        |x AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(toks, CAST(ci * 48 + 1 AS INT),
        |    CAST(ci * 48 + 64 AS INT)), ' ') AS chunk_text,
        |  CAST(least(64, n - ci * 48) AS BIGINT) AS chunk_tokens
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    // exact top-k token counts; the (freq DESC, token) tiebreak makes the
    // k-th boundary deterministic in both engines
    "q_vocab_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents) t
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin,
    // add-one char-bigram model over the corpus itself, mean bits/transition
    "q_lm_score" ->
      """WITH bg AS MATERIALIZED (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text))) AS i FROM documents) t),
        |m2 AS MATERIALIZED (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        |m1 AS MATERIALIZED (SELECT substr(bg, 1, 1) AS c1, sum(c2) AS n1 FROM m2 GROUP BY 1),
        |v AS MATERIALIZED (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM m2)
        |SELECT doc_id, round(avg(-log2((c2 + 1.0) / (n1 + v))), 6) AS lm_bits
        |FROM bg JOIN m2 USING (bg)
        |JOIN m1 ON substr(bg.bg, 1, 1) = m1.c1
        |CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // hashed-bag Naive Bayes replayed end-to-end: md5-48 unigram hashes mod
    // 4096 (the digit-sum md5 formulation), exact per-(bucket,class) token
    // counts, add-one log-odds weights, per-doc weight sum + doc-prior bias
    "q_nb_quality" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang = 'en' AS pos,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 4096) AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents) t),
        |cnt AS MATERIALIZED (
        |  SELECT b,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM toks GROUP BY b),
        |tot AS MATERIALIZED (
        |  SELECT CAST(sum(cp) AS BIGINT) AS pt, CAST(sum(cn) AS BIGINT) AS nt
        |  FROM cnt),
        |dc AS MATERIALIZED (
        |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pd,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nd
        |  FROM documents)
        |SELECT toks.doc_id,
        |  round(ln(CAST(pd AS DOUBLE) / nd)
        |    + sum(ln((cnt.cp + 1.0) / (tot.pt + 4096.0))
        |        - ln((cnt.cn + 1.0) / (tot.nt + 4096.0))), 6) AS log_odds
        |FROM toks JOIN cnt USING (b) CROSS JOIN tot CROSS JOIN dc
        |GROUP BY toks.doc_id, pd, nd
        |ORDER BY toks.doc_id""".stripMargin,
    // DSIR: two add-one bigram models (target = lang 'en', background =
    // all), per-doc summed log-likelihood ratio, Gumbel-top-k over the same
    // md5 buckets as q_weighted_sample (ln(-ln u) - log2_w*ln 2, ascending)
    "q_dsir_select" ->
      """WITH bgall AS MATERIALIZED (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text))) AS i FROM documents) t),
        |bgt AS MATERIALIZED (
        |  SELECT substr(text, CAST(i AS INT), 2) AS bg
        |  FROM (SELECT text, unnest(range(1, len(text))) AS i
        |        FROM documents WHERE lang = 'en') t),
        |t2 AS MATERIALIZED (SELECT bg, count(*) AS tc2 FROM bgt GROUP BY bg),
        |t1 AS MATERIALIZED (SELECT substr(bg, 1, 1) AS c1, sum(tc2) AS tn1 FROM t2 GROUP BY 1),
        |tv AS MATERIALIZED (SELECT count(DISTINCT substr(bg, 2, 1)) AS tv FROM t2),
        |b2 AS MATERIALIZED (SELECT bg, count(*) AS bc2 FROM bgall GROUP BY bg),
        |b1 AS MATERIALIZED (SELECT substr(bg, 1, 1) AS c1, sum(bc2) AS bn1 FROM b2 GROUP BY 1),
        |bv AS MATERIALIZED (SELECT count(DISTINCT substr(bg, 2, 1)) AS bv FROM b2),
        |w0 AS MATERIALIZED (
        |  SELECT bgall.doc_id,
        |    sum(log2((coalesce(t2.tc2, 0) + 1.0) / (coalesce(t1.tn1, 0) + tv.tv))
        |      - log2((coalesce(b2.bc2, 0) + 1.0) / (coalesce(b1.bn1, 0) + bv.bv))) AS log2_w
        |  FROM bgall
        |  LEFT JOIN t2 ON t2.bg = bgall.bg
        |  LEFT JOIN t1 ON t1.c1 = substr(bgall.bg, 1, 1)
        |  LEFT JOIN b2 ON b2.bg = bgall.bg
        |  LEFT JOIN b1 ON b1.c1 = substr(bgall.bg, 1, 1)
        |  CROSS JOIN tv CROSS JOIN bv
        |  GROUP BY bgall.doc_id),
        |w AS MATERIALIZED (
        |  SELECT d.doc_id, coalesce(w0.log2_w, 0.0) AS log2_w
        |  FROM documents d LEFT JOIN w0 USING (doc_id)),
        |g AS (
        |  SELECT doc_id, log2_w,
        |    ln(-ln(((CAST(list_sum(list_transform(range(1, 13),
        |        k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |             * pow(16, 12 - k))) AS BIGINT) % 1000000) + 0.5) / 1000000.0))
        |      - log2_w * ln(2) AS gk
        |  FROM w)
        |SELECT doc_id, round(log2_w, 6) AS log2_w, round(gk, 6) AS gumbel_key
        |FROM (SELECT * FROM g ORDER BY gk ASC, doc_id LIMIT 25) t
        |ORDER BY doc_id""".stripMargin,
    // BM25 over the shared whitespace tokenization: tf per (doc, query
    // term), |query|-row docfreq, 1-row (N, avgdl); Robertson idf
    "q_bm25" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |d AS MATERIALIZED (SELECT doc_id, len(toks) AS dl FROM base),
        |stats AS MATERIALIZED (
        |  SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM d),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM base) t
        |  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |dfq AS MATERIALIZED (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id,
        |    sum(ln((stats.n - dfq.dft + 0.5) / (dfq.dft + 0.5) + 1.0)
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / stats.avgdl))) AS score
        |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id) CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 6) AS score
        |FROM (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT 20) t
        |ORDER BY doc_id""".stripMargin,
    // per-(lang, source) doc/token/char sums + share of corpus tokens;
    // BIGINT casts pin DuckDB's HUGEINT widening
    "q_corpus_stats" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1, 2),
        |tot AS MATERIALIZED (SELECT CAST(sum(sum_tokens) AS BIGINT) AS tot FROM cells)
        |SELECT lang, source, n_docs, sum_tokens, sum_chars,
        |  round(CAST(sum_tokens AS DOUBLE) / tot, 6) AS token_share
        |FROM cells CROSS JOIN tot
        |ORDER BY lang, source""".stripMargin,
    // exact-integer HITS over the md5-derived link graph: identical sums,
    // shifts and divisions, 3 unrolled iterations
    "q_hits" ->
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
         |FROM h3 JOIN a3 USING (node) ORDER BY node""".stripMargin,
    // link stats over the q_pagerank edge fixture: degrees, distinct
    // neighbors, reciprocal distinct links
    "q_link_stats" ->
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
         |ORDER BY node""".stripMargin,
    // exact-integer PageRank over the md5-derived link graph: identical
    // edges, identical recurrence, 3 unrolled iterations
    "q_pagerank" ->
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
         |FROM r3 ORDER BY doc_id""".stripMargin,
    // quality replay (same chain as q_quality) -> row_number per source over
    // (quality DESC, doc_id) -> keep rn <= 3
    "q_domain_quota" ->
      """WITH base AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, n,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE) / n END AS sr,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE CAST(len(text) - len(regexp_replace(text, '[.,;:!?()]', '', 'g')) AS DOUBLE) / len(text) END AS pr
        |  FROM base),
        |q AS (
        |  SELECT doc_id, source,
        |    round((CASE WHEN n >= 20 AND n <= 100000 THEN 1.0 WHEN n >= 5 THEN 0.5 ELSE 0.0 END) * 0.4
        |        + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.4
        |        + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
        |  FROM m),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
        |  FROM q)
        |SELECT doc_id, source, quality FROM r WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    "q_corr_pearson" ->
      """SELECT 'l_quantity' AS feature, round(corr(l_quantity, l_extendedprice), 6) AS score FROM lineitem
        |UNION ALL SELECT 'l_discount', round(corr(l_discount, l_extendedprice), 6) FROM lineitem
        |UNION ALL SELECT 'l_tax', round(corr(l_tax, l_extendedprice), 6) FROM lineitem
        |ORDER BY feature""".stripMargin,
    // Full replay of carScores with auto lambda: Schäfer–Strimmer λ* over the
    // standardized joint (y, X) matrix, then ω = R'^{-1/2} ρ' with the p=2
    // closed form a,b = (1/sqrt(1+ρ') ± 1/sqrt(1−ρ'))/2.
    "q_car_lambda" ->
      """WITH s AS MATERIALIZED (
        |  SELECT count(*) AS n,
        |         avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
        |         avg(l_discount) AS md, stddev_samp(l_discount) AS sd,
        |         avg(l_extendedprice) AS my, stddev_samp(l_extendedprice) AS sy
        |  FROM lineitem),
        |z AS MATERIALIZED (
        |  SELECT (l_quantity - mq) / sq AS zq, (l_discount - md) / sd AS zd,
        |         (l_extendedprice - my) / sy AS zy
        |  FROM lineitem, s),
        |ps AS MATERIALIZED (
        |  SELECT sum(zq*zd) AS s1qd, sum(zq*zq*zd*zd) AS s2qd,
        |         sum(zq*zy) AS s1qy, sum(zq*zq*zy*zy) AS s2qy,
        |         sum(zd*zy) AS s1dy, sum(zd*zd*zy*zy) AS s2dy
        |  FROM z),
        |lam AS MATERIALIZED (
        |  SELECT least(1.0, greatest(0.0,
        |    (2*(s2qd/n + s2qy/n + s2dy/n)
        |       - 2*((s1qd/n)*(s1qd/n) + (s1qy/n)*(s1qy/n) + (s1dy/n)*(s1dy/n)))
        |    / (2*((s1qd/n)*(s1qd/n) + (s1qy/n)*(s1qy/n) + (s1dy/n)*(s1dy/n)))
        |    / (n - 1))) AS lambda
        |  FROM ps, s),
        |c AS MATERIALIZED (
        |  SELECT corr(l_quantity, l_discount) AS rqd,
        |         corr(l_quantity, l_extendedprice) AS rqy,
        |         corr(l_discount, l_extendedprice) AS rdy
        |  FROM lineitem),
        |o AS MATERIALIZED (
        |  SELECT lambda,
        |    (1-lambda)*rqy AS pqy, (1-lambda)*rdy AS pdy,
        |    (1/sqrt(1+(1-lambda)*rqd) + 1/sqrt(1-(1-lambda)*rqd))/2 AS a,
        |    (1/sqrt(1+(1-lambda)*rqd) - 1/sqrt(1-(1-lambda)*rqd))/2 AS b
        |  FROM lam, c)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS feature, round(a*pqy + b*pdy, 4) AS score,
        |         round(lambda, 4) AS lambda FROM o
        |  UNION ALL
        |  SELECT 'l_discount', round(b*pqy + a*pdy, 4), round(lambda, 4) FROM o)
        |ORDER BY feature""".stripMargin,
    "q_corr_spearman" ->
      """WITH r AS (
        |  SELECT
        |    rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
        |    rank() OVER (ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd,
        |    rank() OVER (ORDER BY l_tax) + (count(*) OVER (PARTITION BY l_tax) - 1) / 2.0 AS rt,
        |    rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
        |  FROM lineitem)
        |SELECT 'l_quantity' AS feature, round(corr(rq, ry), 6) AS score FROM r
        |UNION ALL SELECT 'l_discount', round(corr(rd, ry), 6) FROM r
        |UNION ALL SELECT 'l_tax', round(corr(rt, ry), 6) FROM r
        |ORDER BY feature""".stripMargin,
    "q_entropy_scores" ->
      s"""WITH b AS (
        |  SELECT l_returnflag AS y, f.feature, $liCase AS v, l_orderkey, l_linenumber
        |  FROM lineitem CROSS JOIN (VALUES ('l_quantity'), ('l_discount'), ('l_tax')) f(feature)),
        |nb AS (
        |  SELECT feature, ntile(5) OVER (PARTITION BY feature ORDER BY v, l_orderkey, l_linenumber) AS xb, y
        |  FROM b),
        |j AS (SELECT feature, xb, y, count(*) AS c FROM nb GROUP BY 1, 2, 3),
        |tot AS (SELECT feature, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.feature, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT feature, xb, CAST(sum(c) AS DOUBLE) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (feature) GROUP BY 1),
        |hy AS (SELECT jy.feature, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT feature, y, CAST(sum(c) AS DOUBLE) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (feature) GROUP BY 1),
        |hxy AS (SELECT j.feature, -sum(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n)) AS hxy
        |        FROM j JOIN tot USING (feature) GROUP BY 1)
        |SELECT feature, round(hx + hy - hxy, 6) AS infogain,
        |  round((hx + hy - hxy) / hx, 6) AS gainratio,
        |  round(2 * (hx + hy - hxy) / (hx + hy), 6) AS symuncert
        |FROM hx JOIN hy USING (feature) JOIN hxy USING (feature) ORDER BY feature""".stripMargin,
    "q_chisq_stat" ->
      """WITH b AS (
        |  SELECT o_orderstatus AS y, f.feature,
        |    CASE f.feature WHEN 'o_orderpriority' THEN o_orderpriority
        |         ELSE CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END END AS x
        |  FROM orders CROSS JOIN (VALUES ('o_orderpriority'), ('value_bucket')) f(feature)),
        |j AS (SELECT feature, x, y, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2, 3),
        |rs AS (SELECT feature, x, sum(c) AS rc FROM j GROUP BY 1, 2),
        |cs AS (SELECT feature, y, sum(c) AS cc FROM j GROUP BY 1, 2),
        |n AS (SELECT feature, sum(c) AS n FROM j GROUP BY 1),
        |e AS (SELECT rs.feature, rs.x, cs.y, rs.rc * cs.cc / n.n AS e
        |      FROM rs JOIN cs ON rs.feature = cs.feature JOIN n ON rs.feature = n.feature)
        |SELECT e.feature AS feature, round(sum(pow(COALESCE(j.c, 0) - e.e, 2) / e.e), 6) AS stat
        |FROM e LEFT JOIN j ON j.feature = e.feature AND j.x = e.x AND j.y = e.y
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_auc" ->
      """WITH m AS (
        |  SELECT f.feature,
        |    CASE f.feature WHEN 'l_quantity' THEN l_quantity
        |         WHEN 'l_extendedprice' THEN l_extendedprice ELSE l_discount END AS v,
        |    CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS ispos
        |  FROM lineitem CROSS JOIN (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount')) f(feature)),
        |bv AS (SELECT feature, v, count(*) AS cnt, sum(ispos) AS cp FROM m GROUP BY 1, 2),
        |rk AS (SELECT feature, v, cnt, cp,
        |         COALESCE(sum(cnt) OVER (PARTITION BY feature ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (cnt + 1) / 2.0 AS midrank
        |       FROM bv),
        |agg AS (SELECT feature, sum(cp * midrank) AS rpos, sum(cp) AS npos, sum(cnt) - sum(cp) AS nneg
        |        FROM rk GROUP BY 1)
        |SELECT feature, round(greatest(a, 1 - a), 6) AS score
        |FROM (SELECT feature, (rpos - npos * (npos + 1) / 2.0) / (npos * nneg) AS a FROM agg) t
        |ORDER BY feature""".stripMargin,
    "q_median_split" ->
      """WITH m AS (SELECT median(n_chars) AS md FROM documents)
        |SELECT CASE WHEN n_chars <= md THEN 'l' ELSE 'h' END AS bucket, count(*) AS n
        |FROM documents CROSS JOIN m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_strict" ->
      """SELECT p.event_id AS purchase_id,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin,
    "q_salted_count" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1 ORDER BY user_id",
    "q_revisit_index" ->
      """SELECT event_id,
        | row_number() OVER w AS visit_no,
        | CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) AS gap_sec
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q_minhash_md5" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('0:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h0,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('1:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('2:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h2,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('3:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h3
        |  FROM sh)
        |SELECT doc_id, min(h0) AS h0, min(h1) AS h1, min(h2) AS h2, min(h3) AS h3
        |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_aov" ->
      """WITH stats AS (SELECT l_returnflag AS g, count(*) AS n, avg(l_extendedprice) AS m
        |               FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg(l_extendedprice) AS m FROM lineitem),
        |ssb AS (SELECT sum(s.n * (s.m - t.m) * (s.m - t.m)) AS ss, count(*) - 1 AS df1
        |        FROM stats s CROSS JOIN tot t),
        |sse AS (SELECT sum((l.l_extendedprice - s.m) * (l.l_extendedprice - s.m)) AS ss,
        |               (SELECT n FROM tot) - (SELECT count(*) FROM stats) AS df2
        |        FROM lineitem l JOIN stats s ON l.l_returnflag = s.g)
        |SELECT 'l_returnflag' AS feature, round((ssb.ss / ssb.df1) / (sse.ss / sse.df2), 4) AS f_stat
        |FROM ssb CROSS JOIN sse""".stripMargin,
    // Sequential Type-I ANOVA, 2 factors: RSS(1) and RSS(1+g1) are group-mean
    // residual sums; adding the single l_linestatus dummy has the closed form
    // RSS2 = RSS1 − ⟨e_x,e_y⟩²/⟨e_x,e_x⟩ where e_* are residuals after
    // subtracting per-g1-group means (projecting out intercept+g1).
    "q_aov_seq" ->
      """WITH d AS (SELECT l_returnflag AS g1, l_linestatus AS g2, l_extendedprice AS y FROM lineitem),
        |l2 AS (SELECT g2 AS v FROM d GROUP BY g2 ORDER BY g2 LIMIT 1 OFFSET 1),
        |nn AS (SELECT count(*) AS n FROM d),
        |m0 AS (SELECT avg(y) AS m FROM d),
        |gm AS (SELECT g1, avg(y) AS m1 FROM d GROUP BY 1),
        |r0 AS (SELECT sum(pow(y - m, 2)) AS rss0 FROM d CROSS JOIN m0),
        |r1 AS (SELECT sum(pow(y - m1, 2)) AS rss1 FROM d JOIN gm USING (g1)),
        |e AS (SELECT y - avg(y) OVER (PARTITION BY g1) AS ey,
        |        (CASE WHEN g2 = (SELECT v FROM l2) THEN 1.0 ELSE 0.0 END)
        |          - avg(CASE WHEN g2 = (SELECT v FROM l2) THEN 1.0 ELSE 0.0 END)
        |              OVER (PARTITION BY g1) AS ex
        |      FROM d),
        |r2 AS (SELECT (SELECT rss1 FROM r1) - pow(sum(ex * ey), 2) / sum(ex * ex) AS rss2 FROM e),
        |f AS (SELECT rss0, rss1, rss2, n FROM r0, r1, r2, nn)
        |SELECT feature, df, f_stat FROM (
        |  SELECT 'l_returnflag' AS feature, 2 AS df,
        |         round(((rss0 - rss1) / 2) / (rss2 / (n - 4)), 4) AS f_stat FROM f
        |  UNION ALL
        |  SELECT 'l_linestatus', 1, round((rss1 - rss2) / (rss2 / (n - 4)), 4) FROM f)
        |ORDER BY feature""".stripMargin,
    // FCBF round-1 scores: symmetrical uncertainty of each median-split
    // feature vs the outcome (the redundancy elimination changes only
    // `excluded`, not the scores the query emits)
    "q_fcbf" ->
      """WITH med AS (SELECT median(l_quantity) AS mq, median(l_discount) AS md,
        |                    median(l_tax) AS mt, median(l_extendedprice) AS me FROM lineitem),
        |b AS (
        |  SELECT f.feature AS variable,
        |    CASE f.feature
        |      WHEN 'l_quantity' THEN CASE WHEN l_quantity <= mq THEN 'l' ELSE 'h' END
        |      WHEN 'l_discount' THEN CASE WHEN l_discount <= md THEN 'l' ELSE 'h' END
        |      WHEN 'l_tax' THEN CASE WHEN l_tax <= mt THEN 'l' ELSE 'h' END
        |      ELSE CASE WHEN l_extendedprice <= me THEN 'l' ELSE 'h' END END AS xb,
        |    l_linestatus AS yb
        |  FROM lineitem CROSS JOIN med
        |  CROSS JOIN (VALUES ('l_quantity'), ('l_discount'), ('l_tax'), ('l_extendedprice')) f(feature)),
        |j AS (SELECT variable, xb, yb, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2, 3),
        |tot AS (SELECT variable, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.variable, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT variable, xb, sum(c) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (variable) GROUP BY 1),
        |hy AS (SELECT jy.variable, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT variable, yb, sum(c) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (variable) GROUP BY 1),
        |hxy AS (SELECT j.variable, -sum(c / n * ln(c / n)) AS hxy
        |        FROM j JOIN tot USING (variable) GROUP BY 1)
        |SELECT variable, round(2 * (hx + hy - hxy) / (hx + hy), 6) AS score
        |FROM hx JOIN hy USING (variable) JOIN hxy USING (variable) ORDER BY variable""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |f AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
        |inter AS (SELECT fa.doc_id AS ia, fb.doc_id AS ib, count(*) AS i
        |          FROM f fa JOIN f fb ON fa.s = fb.s AND fa.doc_id < fb.doc_id
        |          GROUP BY 1, 2),
        |jac AS (SELECT ia, ib, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
        |        FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
        |SELECT ia AS a, ib AS b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.5 ORDER BY a, b""".stripMargin,
    // brute-force ground truth: ALL pairs with exact shingle-jaccard >= 0.8
    // (the engine's banding parameters guarantee full recall at this
    // threshold — see the query registration comment)
    "q_near_duplicates" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT sa.doc_id AS ia, sb.doc_id AS ib, count(*) AS i
        |          FROM sh sa JOIN sh sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
        |          GROUP BY 1, 2),
        |jac AS (SELECT ia, ib, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
        |        FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
        |SELECT ia AS a, ib AS b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.8 ORDER BY a, b""".stripMargin,
    "q_fingerprint_rolling" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
        |  FROM documents),
        |h AS (SELECT doc_id, pos,
        |        CAST(list_sum(list_transform(range(1, 13),
        |          k -> (strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT), 1)) - 1)
        |               * pow(16, 12 - k))) AS BIGINT) % 1000000007 AS hv
        |      FROM w)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(hv ORDER BY pos)),
        |    (acc, x) -> CAST((CAST(acc AS HUGEINT) * 1000003 + x) % 1000000007 AS BIGINT)) AS fp
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_simhash_md5" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(1, 13),
        |          k -> (strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT), 1)) - 1)
        |               * pow(16, 12 - k))) AS BIGINT) AS hv
        |      FROM w),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS j) jj GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash48
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // brute-force ground truth for the multi-table candidate construction:
    // the Spark side is banded (20 tables × 24-bit keys) + exact verify, and
    // must equal ALL pairs within Hamming 3 — integer bit sums make the sig
    // CTE deterministic, MATERIALIZED just avoids recomputing it per side
    "q_simhash_md5_pairs" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(1, 13),
        |          k -> (strpos('0123456789abcdef', substr(md5(tok), CAST(k AS INT), 1)) - 1)
        |               * pow(16, 12 - k))) AS BIGINT) AS hv
        |      FROM w),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS j) jj GROUP BY 1, 2),
        |sig AS MATERIALIZED (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id)
        |SELECT l.doc_id AS a, r.doc_id AS b,
        |       CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
        |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sh, r.sh)) <= 3
        |ORDER BY a, b""".stripMargin,
    "q_minhash_md5_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('0:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h0,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('1:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('2:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h2,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('3:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h3
        |  FROM sh),
        |sig AS (SELECT doc_id, min(h0) AS h0, min(h1) AS h1, min(h2) AS h2, min(h3) AS h3
        |        FROM hashed GROUP BY doc_id)
        |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
        | AND ((l.h0 = r.h0 AND l.h1 = r.h1) OR (l.h2 = r.h2 AND l.h3 = r.h3))
        |ORDER BY a, b""".stripMargin,
    // same signature replay; batch (odd) vs index (even) band join, then
    // agreement = fraction of equal components, best match per batch doc
    // (ties to smallest corpus id). sig is referenced twice in a
    // comparison -> MATERIALIZED (integer mins are deterministic, but the
    // repo rule is unconditional)
    "q_index_matches" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    concat(tok, ' ', lead(tok, 1) OVER d, ' ', lead(tok, 2) OVER d) AS s,
        |    pos, count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM w WINDOW d AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE pos <= n - 2),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('0:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h0,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('1:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('2:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h2,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      k -> (strpos('0123456789abcdef', substr(md5(concat('3:', s)), CAST(k AS INT), 1)) - 1)
        |           * pow(16, 12 - k))) AS BIGINT) AS h3
        |  FROM sh),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, min(h0) AS h0, min(h1) AS h1, min(h2) AS h2, min(h3) AS h3
        |  FROM hashed GROUP BY doc_id),
        |c AS (
        |  SELECT b.doc_id AS doc_id, i.doc_id AS cid,
        |    ((CASE WHEN b.h0 = i.h0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN b.h1 = i.h1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN b.h2 = i.h2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN b.h3 = i.h3 THEN 1 ELSE 0 END)) / 4.0 AS agreement
        |  FROM sig b JOIN sig i
        |    ON b.doc_id % 2 = 1 AND i.doc_id % 2 = 0
        |   AND ((b.h0 = i.h0 AND b.h1 = i.h1) OR (b.h2 = i.h2 AND b.h3 = i.h3))),
        |best AS (
        |  SELECT doc_id, cid, agreement,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY agreement DESC, cid) AS rn
        |  FROM c WHERE agreement >= 0.75)
        |SELECT doc_id, cid AS dup_of, round(agreement, 6) AS agreement
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_cosine_neardup" ->
      """WITH derived AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |         list_transform(range(1, len(embedding) + 1),
        |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
        |                                THEN CAST(1.28 AS FLOAT)
        |                                ELSE CAST(0.72 AS FLOAT) END)) AS embedding
        |  FROM embeddings WHERE vec_id < 20),
        |p AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    list_sum(list_transform(range(1, len(l.embedding) + 1),
        |      i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM derived l JOIN derived r ON l.vec_id < r.vec_id)
        |SELECT a, b, round(c, 6) AS cosine FROM p WHERE c >= 0.95 ORDER BY a, b""".stripMargin,
    "q_lsh_buckets" ->
      s"""SELECT bucket, count(*) AS n FROM (
         |  SELECT ${bucketSqlExpr("embedding", lshPlanes6x64)} AS bucket FROM embeddings) t
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_knn_lsh" ->
      s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         |qb AS (SELECT ${bucketSqlExpr("e", lshPlanes6x64)} AS qbucket FROM q),
         |b AS (SELECT vec_id, embedding,
         |        ${bucketSqlExpr("embedding", lshPlanes6x64)} AS bucket
         |      FROM embeddings),
         |cand AS (SELECT vec_id, embedding FROM b CROSS JOIN qb
         |         WHERE bit_count(xor(bucket, qbucket)) <= 2),
         |s AS (
         |  SELECT c.vec_id,
         |    list_sum(list_transform(range(1, len(c.embedding) + 1),
         |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
         |  FROM cand c CROSS JOIN q)
         |SELECT vec_id, round(cs, 6) AS cosine FROM s ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin,
    // OLS with intercept over centered covariances, solved by Cramer's rule
    // — the closed form of MLlib LinearRegression with regParam 0
    "q_linear" ->
      """WITH m AS (SELECT avg(l_quantity) AS m1, avg(l_discount) AS m2, avg(l_tax) AS m3,
        |                  avg(l_extendedprice) AS my FROM lineitem),
        |s AS (SELECT
        |  sum((l_quantity - m1) * (l_quantity - m1)) AS a,
        |  sum((l_quantity - m1) * (l_discount - m2)) AS b,
        |  sum((l_quantity - m1) * (l_tax - m3)) AS c,
        |  sum((l_discount - m2) * (l_discount - m2)) AS d,
        |  sum((l_discount - m2) * (l_tax - m3)) AS e,
        |  sum((l_tax - m3) * (l_tax - m3)) AS f,
        |  sum((l_quantity - m1) * (l_extendedprice - my)) AS p,
        |  sum((l_discount - m2) * (l_extendedprice - my)) AS q,
        |  sum((l_tax - m3) * (l_extendedprice - my)) AS r
        | FROM lineitem CROSS JOIN m),
        |d AS (SELECT
        |  a*(d*f - e*e) - b*(b*f - e*c) + c*(b*e - d*c) AS det,
        |  p*(d*f - e*e) - b*(q*f - e*r) + c*(q*e - d*r) AS det1,
        |  a*(q*f - e*r) - p*(b*f - e*c) + c*(b*r - q*c) AS det2,
        |  a*(d*r - q*e) - b*(b*r - q*c) + p*(b*e - d*c) AS det3
        | FROM s)
        |SELECT variable, round(abs(coef), 4) AS score FROM (
        |  SELECT 'l_quantity' AS variable, det1/det AS coef FROM d
        |  UNION ALL SELECT 'l_discount', det2/det FROM d
        |  UNION ALL SELECT 'l_tax', det3/det FROM d)
        |ORDER BY variable""".stripMargin,
    // Full greedy mRMR replay: DuckDB's quantile_disc returns the same data
    // values as Spark's exact approxQuantile (verified bit-for-bit on these
    // columns), so the equal-frequency bins match; the pairwise-MI table
    // then drives the same argmax-by-(criterion, input-order) selection.
    // MATERIALIZED mi for the self-consistency reason documented on
    // q_select_pipeline.
    "q_mrmr" ->
      """WITH cuts AS MATERIALIZED (SELECT
        |  quantile_disc(l_quantity, [0.2, 0.4, 0.6, 0.8]) AS cq,
        |  quantile_disc(l_discount, [0.2, 0.4, 0.6, 0.8]) AS cd,
        |  quantile_disc(l_tax, [0.2, 0.4, 0.6, 0.8]) AS ct FROM lineitem),
        |b AS (SELECT
        |  CASE WHEN l_quantity <= cq[1] THEN 1 WHEN l_quantity <= cq[2] THEN 2
        |       WHEN l_quantity <= cq[3] THEN 3 WHEN l_quantity <= cq[4] THEN 4 ELSE 5 END AS f1,
        |  CASE WHEN l_discount <= cd[1] THEN 1 WHEN l_discount <= cd[2] THEN 2
        |       WHEN l_discount <= cd[3] THEN 3 WHEN l_discount <= cd[4] THEN 4 ELSE 5 END AS f2,
        |  CASE WHEN l_tax <= ct[1] THEN 1 WHEN l_tax <= ct[2] THEN 2
        |       WHEN l_tax <= ct[3] THEN 3 WHEN l_tax <= ct[4] THEN 4 ELSE 5 END AS f3,
        |  l_returnflag AS y
        | FROM lineitem CROSS JOIN cuts),
        |pairs AS (
        |  SELECT 'l_quantity|__y' AS pr, CAST(f1 AS VARCHAR) AS xa, y AS xb FROM b
        |  UNION ALL SELECT 'l_discount|__y', CAST(f2 AS VARCHAR), y FROM b
        |  UNION ALL SELECT 'l_tax|__y', CAST(f3 AS VARCHAR), y FROM b
        |  UNION ALL SELECT 'l_quantity|l_discount', CAST(f1 AS VARCHAR), CAST(f2 AS VARCHAR) FROM b
        |  UNION ALL SELECT 'l_quantity|l_tax', CAST(f1 AS VARCHAR), CAST(f3 AS VARCHAR) FROM b
        |  UNION ALL SELECT 'l_discount|l_tax', CAST(f2 AS VARCHAR), CAST(f3 AS VARCHAR) FROM b),
        |j AS (SELECT pr, xa, xb, CAST(count(*) AS DOUBLE) AS c FROM pairs GROUP BY 1, 2, 3),
        |tot AS (SELECT pr, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.pr, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT pr, xa, sum(c) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (pr) GROUP BY 1),
        |hy AS (SELECT jy.pr, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT pr, xb, sum(c) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (pr) GROUP BY 1),
        |hxy AS (SELECT j.pr, -sum(c / n * ln(c / n)) AS hxy
        |        FROM j JOIN tot USING (pr) GROUP BY 1),
        |miu AS (SELECT pr, hx + hy - hxy AS v
        |        FROM hx JOIN hy USING (pr) JOIN hxy USING (pr)),
        |mi AS MATERIALIZED (
        |  SELECT split_part(pr, '|', 1) AS a, split_part(pr, '|', 2) AS b2, v FROM miu
        |  UNION ALL
        |  SELECT split_part(pr, '|', 2), split_part(pr, '|', 1), v FROM miu
        |  WHERE split_part(pr, '|', 2) != '__y'),
        |ord AS (SELECT * FROM (VALUES ('l_quantity', 1), ('l_discount', 2), ('l_tax', 3)) o(f, idx)),
        |rel AS MATERIALIZED (SELECT a AS f, v AS rel FROM mi WHERE b2 = '__y'),
        |s1 AS MATERIALIZED (SELECT f, rel AS score FROM rel JOIN ord USING (f)
        |                    ORDER BY rel DESC, idx LIMIT 1),
        |s2 AS MATERIALIZED (
        |  SELECT rel.f, rel.rel - mi.v AS score FROM rel
        |  JOIN mi ON mi.a = rel.f AND mi.b2 = (SELECT f FROM s1)
        |  JOIN ord ON ord.f = rel.f
        |  WHERE rel.f != (SELECT f FROM s1)
        |  ORDER BY score DESC, idx LIMIT 1),
        |s3 AS (
        |  SELECT rel.f, rel.rel - (m1.v + m2.v) / 2 AS score FROM rel
        |  JOIN mi m1 ON m1.a = rel.f AND m1.b2 = (SELECT f FROM s1)
        |  JOIN mi m2 ON m2.a = rel.f AND m2.b2 = (SELECT f FROM s2)
        |  WHERE rel.f NOT IN (SELECT f FROM s1 UNION ALL SELECT f FROM s2))
        |SELECT f AS variable, round(score, 6) AS score FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3) t
        |ORDER BY variable""".stripMargin,
    // replays BOTH pipeline steps: step 1 = |pearson| top_p=3 of 4 (exclude
    // the lowest); step 2 = |spearman| over the survivors with threshold
    // 0.5 — dual_filter keeps score >= type-7 quantile(0.5), and DuckDB's
    // quantile_cont IS the type-7 interpolation, so the kernel's threshold
    // branch is verified cross-engine
    // NOTE: c2 MUST be materialized — inlined CTEs are re-evaluated per
    // reference with run-varying parallel-aggregation summation order, and
    // comparing a score against a quantile of a last-ulp-different copy of
    // itself flips the boundary row nondeterministically
    "q_select_pipeline" ->
      """WITH c1 AS MATERIALIZED (
        |  SELECT 'l_quantity' AS variable, abs(corr(l_quantity, l_extendedprice)) AS ac FROM lineitem
        |  UNION ALL SELECT 'l_discount', abs(corr(l_discount, l_extendedprice)) FROM lineitem
        |  UNION ALL SELECT 'l_tax', abs(corr(l_tax, l_extendedprice)) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', abs(corr(l_partkey, l_extendedprice)) FROM lineitem),
        |ex1 AS (SELECT variable FROM (
        |  SELECT variable, row_number() OVER (ORDER BY ac DESC) AS rn FROM c1) t WHERE rn > 3),
        |r AS (
        |  SELECT
        |    rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
        |    rank() OVER (ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd,
        |    rank() OVER (ORDER BY l_tax) + (count(*) OVER (PARTITION BY l_tax) - 1) / 2.0 AS rt,
        |    rank() OVER (ORDER BY l_partkey) + (count(*) OVER (PARTITION BY l_partkey) - 1) / 2.0 AS rp,
        |    rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
        |  FROM lineitem),
        |c2 AS MATERIALIZED (
        |  SELECT 'l_quantity' AS variable, abs(corr(rq, ry)) AS ac FROM r
        |  UNION ALL SELECT 'l_discount', abs(corr(rd, ry)) FROM r
        |  UNION ALL SELECT 'l_tax', abs(corr(rt, ry)) FROM r
        |  UNION ALL SELECT 'l_partkey', abs(corr(rp, ry)) FROM r),
        |rem AS MATERIALIZED (SELECT * FROM c2 WHERE variable NOT IN (SELECT variable FROM ex1)),
        |qv AS (SELECT quantile_cont(ac, 0.5) AS q FROM rem),
        |ex2 AS (SELECT variable FROM rem CROSS JOIN qv WHERE ac < q)
        |SELECT step, excluded FROM (
        |  SELECT 'step_select_corr_pearson' AS step, variable AS excluded FROM ex1
        |  UNION ALL SELECT 'step_select_corr_spearman', variable FROM ex2)
        |ORDER BY step, excluded""".stripMargin,
    "q_knn_ivf" ->
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |vc AS (
        |  SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
        |  FROM vc) t WHERE rn = 1),
        |probe AS (SELECT cid FROM (
        |  SELECT c.cid,
        |    list_sum(list_transform(range(1, len(c.ce) + 1),
        |      i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM c CROSS JOIN q) t ORDER BY s DESC, cid DESC LIMIT 3),
        |scored AS (
        |  SELECT v.vec_id,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM embeddings v
        |  JOIN assign USING (vec_id) JOIN probe USING (cid) CROSS JOIN q)
        |SELECT vec_id, round(s, 6) AS cosine FROM scored ORDER BY s DESC, vec_id LIMIT 10""".stripMargin
  )
}
