package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.BinaryFeatures
import graft.text.{Bm25, Dedup, HtmlExtract, LmScore, Packing, Repetition, Sampling, TextFeatures, UrlFeatures}
import Query.t

/** Web-text curation queries over `documents`, media decoding included. */
object Text {
  /** q_normalize fixture decoration, single source of truth for BOTH the
    * Spark column and the SQL literal: decomposed e+acute / A+ring next to
    * their precomposed forms, so NFC actually rewrites something. */
  private val normFixtureSuffix =
    " cafe\u0301 A\u030A composed:\u00E9\u00C5" // decomposed pair, then precomposed pair

  val all: Seq[Query] = Seq(
    Query("q_dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextFeatures.fingerprintMd5(col("text")).as("text_md5"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_id"))
        .orderBy("canonical_id")
    }, Some(
      """SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin)),
    Query("q_jaccard_target", (s, dir) => {
      Dedup.jaccardVsTarget(t(s, dir, "documents"), "doc_id", "text", 3, 0L)
        .select(col("doc_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_id")
    }, Some(
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
        |FROM sz LEFT JOIN inter ON sz.doc_id = inter.doc_id CROSS JOIN tsz ORDER BY doc_id""".stripMargin)),
    Query("q_minhash_pairs", (s, dir) => {
      val sigs = Dedup.minHashSignatures(t(s, dir, "documents"), "doc_id", "text", 3, 8)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 4, rowsPerBand = 2).orderBy("a", "b")
    }, None), // no oracle: xxhash64-specific
    Query("q_simhash_pairs", (s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text")
      Dedup.simHashCandidates(sigs, "doc_id", maxHamming = 3).orderBy("a", "b")
    }, None), // no oracle: xxhash64-specific
    // maxDocFreq guards the shingle self-join against ubiquitous shingles
    // (this corpus has a ~30-word vocabulary, so common 3-grams appear in
    // thousands of docs — exactly the skew the guard exists for)
    Query("q_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5, maxDocFreq = 100)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b"), Some(
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
        |SELECT ia AS a, ib AS b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.5 ORDER BY a, b""".stripMargin)),
    Query("q_tokens", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFeatures.tokenCount(col("text")).as("n_tokens"),
        TextFeatures.wordCount(col("text")).as("n_words")
      ).orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        | CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[a-z]+')) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("q_quality", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        round(TextFeatures.meanTokenLen(col("text")), 6).as("mean_token_len"),
        round(TextFeatures.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFeatures.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFeatures.qualityScore(col("text")), 6).as("quality")
      ).orderBy("doc_id")
    }, Some(
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
        |FROM m ORDER BY doc_id""".stripMargin)),
    // Gopher-family repetition filters: word/2-gram/3-gram repetition
    // fractions per document (one explode + one hash agg, no per-n rescan)
    Query("q_repetition", (s, dir) =>
      Repetition.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"), Some(
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
        |FROM a ORDER BY doc_id""".stripMargin)),
    Query("q_langid", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, Some(
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
        |FROM s ORDER BY doc_id""".stripMargin)),
    Query("q_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.fingerprintMd5(col("text")).as("md5"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, md5(text) AS md5 FROM documents ORDER BY doc_id")),
    // md5-derived token hashes so DuckDB can recompute the fold exactly
    Query("q_fingerprint_rolling", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFeatures.rollingFingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some(
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
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // benchmark decontamination: the first 5 docs stand in for an eval
    // benchmark; every doc is scored by the fraction of its 3-grams that
    // appear in the benchmark's n-gram set (broadcast semi-join)
    Query("q_decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(d, "doc_id", "text",
        d.where(col("doc_id") < 5), "text", n = 3)
        .select(col("doc_id"), col("total_ngrams"), col("contaminated_ngrams"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    }, Some(
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
        |ORDER BY d.doc_id""".stripMargin)),
    // the too-big-to-broadcast variant: broadcast-Bloom semi-join reduction
    // gating the corpus gram stream map-side, exact-verified — bit-identical
    // to the un-filtered score by construction (no false negatives)
    Query("q_decontaminate_bloom", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationLarge(d, "doc_id", "text",
        d.where(col("doc_id") < 8), "text", n = 2)
        .select(col("doc_id"), col("total_ngrams"), col("contaminated_ngrams"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    }, Some(
      // bigram variant of the decontamination score — the Bloom-gated Spark
      // path must be bit-identical to the exact score (no false negatives),
      // so the oracle is the plain exact formulation
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
        |ORDER BY d.doc_id""".stripMargin)),
    // deterministic corpus split: portable md5-bucket variant so DuckDB
    // reproduces the exact membership of every split; the xxhash64
    // production variant is pinned by CurationSpec
    Query("q_hash_split", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Sampling.splitByHashMd5(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy("doc_id"), Some(
      // 48-bit md5-prefix bucket (the repo's portable hash) walked against the
      // cumulative 0.8/0.9 thresholds — both engines divide the same exact
      // integer by 1e6, so the comparisons are bit-identical
      """SELECT doc_id,
        |  CASE WHEN b < 0.8 THEN 'train' WHEN b < 0.9 THEN 'valid' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 1000000) / 1000000.0 AS b
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin)),
    // per-domain quota: top-3 docs per source by quality (rounded to the
    // cross-engine-stable 6 dp before ordering), doc_id tiebreak
    Query("q_domain_quota", (s, dir) => {
      // fanOut: the quality-score regex chain is the dominant per-row work
      // and otherwise runs on the one-split scan (measured: a 0.3 s
      // single-task stage = ~half the query); one action downstream, so
      // the exchange executes once (the curation-pipeline precedent)
      val d = graft.core.Partitions.fanOut(t(s, dir, "documents"))
        .withColumn("quality", round(TextFeatures.qualityScore(col("text")), 6))
      Sampling.domainQuota(d, col("source"), 3, Seq(col("quality").desc, col("doc_id")))
        .select("doc_id", "source", "quality").orderBy("doc_id")
    }, Some(
      // quality replay (same chain as q_quality) -> row_number per source over
      // (quality DESC, doc_id) -> keep rn <= 3
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
        |SELECT doc_id, source, quality FROM r WHERE rn <= 3 ORDER BY doc_id""".stripMargin)),
    // deterministic per-stratum downsampling: md5-portable variant, exact
    // membership replayed by DuckDB; fractions 0.25/0.5/0.75 by source id
    // (binary-exact doubles, so the < comparison agrees cross-engine)
    Query("q_stratified_sample", (s, dir) => {
      val fr = (0 until 20).map(i => s"src$i" -> ((i % 3) + 1) * 0.25).toMap
      t(s, dir, "documents")
        .where(Sampling.stratifiedSampleMd5(col("doc_id"), col("source"), fr))
        .select("doc_id", "source").orderBy("doc_id")
    }, Some(
      // per-stratum hash sampling: same md5 bucket as q_hash_split, fraction
      // (src_index % 3 + 1) * 0.25 — binary-exact doubles both engines
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |       k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(k AS INT), 1)) - 1)
        |            * pow(16, 12 - k))) AS BIGINT) % 1000000) / 1000000.0 AS b,
        |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 0.25 AS f
        |  FROM documents) t
        |WHERE b < f ORDER BY doc_id""".stripMargin)),
    // Efraimidis–Spirakis weighted sample (k largest u^(1/w)), weight =
    // token count, u from the portable md5 bucket — membership is a pure
    // function of (doc_id, weight), reproduced exactly by the oracle
    Query("q_weighted_sample", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("weight", TextFeatures.tokenCount(col("text")))
      Sampling.weightedSampleMd5(d, col("doc_id"), col("weight"), k = 50)
        .select(col("doc_id"), col("weight"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy("doc_id")
    }, Some(
      // A-ES sample keys: identical integer bucket, identical (b+0.5)/1e6 and
      // 1/w doubles — only pow's final rounding is libm-dependent (1 ulp,
      // far below the 6-dp round and the inter-key gaps)
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
        |ORDER BY doc_id""".stripMargin)),
    // token-budget selection: keep the longest docs (n_chars desc, doc_id
    // tiebreak — 189 tied scores exercise the total order) until the 10k-
    // token budget fills; budget_start is the exact preceding-token sum
    Query("q_budget_select", (s, dir) => {
      Sampling.budgetSelect(
        t(s, dir, "documents"),
        score = col("n_chars"),
        tokens = TextFeatures.tokenCount(col("text")),
        id = col("doc_id"),
        budget = 10000L)
        .select(col("doc_id"), col("n_chars"), col("budget_start"))
        .orderBy("doc_id")
    }, Some(
      // greedy budget replay: one window cumsum over the identical total
      // order (n_chars DESC, doc_id); BIGINT cast pins the HUGEINT widening
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
        |FROM c WHERE budget_start < 10000 ORDER BY doc_id""".stripMargin)),
    // data-mixing: per-source token budgets, best docs fill each stratum
    // independently; sources outside the mix are dropped
    Query("q_budget_mix", (s, dir) => {
      Sampling.budgetSelectStratified(
        t(s, dir, "documents"),
        stratum = col("source"),
        score = col("n_chars"),
        tokens = TextFeatures.tokenCount(col("text")),
        id = col("doc_id"),
        budgets = Map("src1" -> 900L, "src2" -> 600L, "src3" -> 300L))
        .select(col("doc_id"), col("source"), col("n_chars"), col("budget_start"))
        .orderBy("doc_id")
    }, Some(
      // per-stratum greedy replay: window cumsum partitioned by source over
      // the identical (n_chars DESC, doc_id) order, per-source budgets
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
        |ORDER BY doc_id""".stripMargin)),
    // PII redaction mechanism check: the corpus has no PII, so the query
    // plants deterministic synthetic PII (email + IPv4 + phone derived from
    // doc_id) and both engines must redact the SAME bytes
    Query("q_redact_pii", (s, dir) =>
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
        .orderBy("doc_id"), Some(
      // same synthetic-PII injection, same three RE2-subset patterns ('g' =
      // replace all, Spark's default); byte-identical redacted strings
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
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Unicode NFC canonicalization: decomposed accents appended to every
    // doc must compose identically in Spark (java.text.Normalizer) and
    // DuckDB (nfc_normalize) — the dedup-key precondition on web text
    Query("q_normalize", (s, dir) => {
      def decorated = concat(col("text"), lit(normFixtureSuffix))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFeatures.normalizeNfc(decorated).as("norm_text"),
        (TextFeatures.normalizeNfc(decorated) =!= decorated).as("changed"))
        .orderBy("doc_id")
    }, Some(
      // DuckDB's nfc_normalize == java.text.Normalizer NFC byte-for-byte;
      // the suffix literal carries the SAME raw UTF-8 as the Spark fixture
      // (single Scala constant interpolated into both)
      // `||`, not concat(): DuckDB's concat SKIPS null arguments while
      // Spark's null-propagates — `||` null-propagates in both engines
      s"""SELECT doc_id,
         |  nfc_normalize(text || '$normFixtureSuffix') AS norm_text,
         |  nfc_normalize(text || '$normFixtureSuffix') <> (text || '$normFixtureSuffix') AS changed
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // HTML -> text extraction: deterministic per-doc html synthesized from
    // the corpus text (script/style/comment payloads, entities incl. a
    // double-encoded one, block boundaries, two links), then the full
    // extraction chain — replayed step-for-step by DuckDB's RE2
    Query("q_html_extract", (s, dir) => {
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
    }, Some(
      // the full extraction chain replayed stage-for-stage (each CTE is
      // referenced exactly once; all string ops deterministic); chr(10) is the
      // newline replacement (a DuckDB standard string '\n' stays two chars)
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
        |FROM s4 ORDER BY doc_id""".stripMargin)),
    // URL parse/normalize: four deterministic url shapes per doc (scheme-less
    // + co.uk zone, credentialed, IPv4-literal with default port, uppercase
    // host with :443/params/fragment) through the full feature set
    Query("q_url_parse", (s, dir) => {
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
    }, Some(
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
        |FROM p2 ORDER BY doc_id""".stripMargin)),
    // C4-style corpus-level line dedup: the corpus text is single-line, so
    // the query synthesizes deterministic 4-token lines per doc (replayed
    // relationally in DuckDB), then drops every line occurring more than
    // once corpus-wide and rebuilds the documents
    Query("q_line_dedup", (s, dir) => {
      val toks = TextFeatures.tokens(col("text"))
      val nLines = ceil(size(toks) / lit(4.0)).cast("int")
      val synth = t(s, dir, "documents").select(
        col("doc_id"),
        when(nLines > 0,
          array_join(transform(sequence(lit(0), nLines - 1),
            j => concat_ws(" ", slice(toks, j * 4 + 1, lit(4)))), "\n"))
          .otherwise(lit("")).as("line_text"))
      Dedup.dedupLines(synth, "doc_id", "line_text", maxCount = 1).orderBy("doc_id")
    }, Some(
      // 4-token line synthesis (relational replay of the Spark HOF chunking),
      // corpus-wide line counts, keep lines with count <= 1, ordered rebuild
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
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    // near-dup cluster RESOLUTION: synthesized duplicate chains (consecutive
    // ids linked, broken at multiples of 7, occasionally cross-linked) must
    // collapse to per-component minimum canonical ids — transitive closure
    // the pairwise operators never compute; DuckDB replays it with a
    // recursive CTE
    Query("q_dedup_clusters", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val cross = d.where(pmod(col("doc_id"), lit(50)) === 0 && col("doc_id") >= 14)
        .select(col("doc_id").as("a"), (col("doc_id") - 14).as("b"))
      Dedup.resolveClusters(chain.unionByName(cross), "a", "b")
        .orderBy("doc_id")
    }, Some(
      // transitive closure by recursive CTE: reach(v, u) = u reachable from
      // v over the undirected synthesized edges; canonical = min reachable
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
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)),
    // cluster CANONICALIZATION over the same synthesized chains: one
    // representative per component by (n_chars desc, doc_id) — the
    // quality-keeps-the-best policy, not min-id — plus the component size
    Query("q_canonicalize", (s, dir) => {
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
    }, Some(
      // same recursive closure, then best-per-cluster by (n_chars desc,
      // doc_id) + component size; lab referenced twice -> MATERIALIZED
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
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),
    // exact duplicated-substring dedup (Lee et al. 2022): a shared 5-token
    // header on every doc and a shared 5-token footer on every 5th doc are
    // cut wherever their 4-grams repeat corpus-wide (plus whatever natural
    // 4-gram dups the small-vocab corpus contains — the oracle replays the
    // identical hash counts); portable md5-48 gram hashes
    Query("q_dup_spans", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("text2", concat(
        lit("terms of service apply here "), col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" standard footer disclaimer text block")).otherwise(lit(""))))
      Dedup.duplicateSpans(d, "doc_id", "text2", k = 4, maxCount = 1, portableMd5 = true)
        .orderBy("doc_id")
    }, Some(
      // duplicated-substring dedup: positional 4-grams via lead() windows,
      // md5-48 digit-sum hashes, corpus counts, coverage expansion and the
      // ordered rebuild — the exact relational replay of duplicateSpans
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
        |ORDER BY d.doc_id""".stripMargin)),
    // deterministic corpus shuffle: the md5-portable global shuffle order,
    // exact rank replayed by DuckDB's row_number over the same hash
    Query("q_shuffle_rank", (s, dir) =>
      Sampling.shuffleRankMd5(t(s, dir, "documents").select("doc_id"), col("doc_id"))
        .select("doc_id", "shuffle_rank").orderBy("doc_id"), Some(
      // GLOBAL-WINDOW-OK (oracle SQL, small scale): one global row_number
      // replays the engine's two-phase bucketed ranking exactly
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank
        |FROM (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(1, 13),
        |          j -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |               * pow(16, 12 - j))) AS BIGINT) AS h
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin)),
    // the one-call CURATION CHAIN, end to end: quality gate -> language
    // gate -> exact dedup (min doc_id per content md5) -> per-source quota
    // (top-5 by quality) -> deterministic split assignment. Each stage is
    // an operator oracled on its own; this query pins their COMPOSITION
    // (the filter->dedup->quota->split order a real corpus build runs)
    Query("q_curation_pipeline", (s, dir) => {
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
    }, Some(
      // full replay of the curation chain: quality + langid (the q_quality /
      // q_langid fragments), filter, md5-dedup row_number, per-source quota
      // row_number, md5-bucket split — every stage deterministic, one pass
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
        |ORDER BY doc_id""".stripMargin)),
    // end-to-end TRAINING-SEQUENCE PREP: language gate -> trained NB
    // classifier gate (fit on the full corpus, lang='en' seed, the
    // q_nb_quality model) -> exact dedup -> 64-token chunking -> global
    // sequence packing of the chunk stream. Every stage deterministic and
    // replayed in one DuckDB statement
    Query("q_training_prep", (s, dir) => {
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
    }, Some(
      // training prep replayed end-to-end: NB model (the q_nb_quality CTEs) ->
      // lang+score gate -> md5-dedup row_number -> 64-token chunk counts ->
      // one global packing window (small scale; the engine's two-phase
      // prefix sum equals it, spec-pinned)
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
        |FROM packed ORDER BY chunk_id""".stripMargin)),
    // sequence packing (concat-and-chunk): exact global token offsets via
    // the two-phase bucketed prefix sum; DuckDB replays with one window
    Query("q_pack_sequences", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFeatures.tokenCount(col("text")).cast("long").as("n_toks"))
      Packing.packSequences(d, "doc_id", "n_toks", budget = 512)
        .select("doc_id", "n_toks", "global_start", "first_seq", "last_seq")
        .orderBy("doc_id")
    }, Some(
      // GLOBAL-WINDOW-OK (oracle SQL, small scale): one cumulative window
      // replays the engine's two-phase bucketed prefix sum exactly
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
        |FROM c ORDER BY doc_id""".stripMargin)),
    // per-document chunking: overlapping maxTokens-token windows (stride =
    // max − overlap), map-side Generate only; chunk text single-space
    // rejoined (the rebuild convention) — replayed by DuckDB list_slice
    Query("q_chunk_text", (s, dir) =>
      Packing.chunkByTokens(
        t(s, dir, "documents").select("doc_id", "text"),
        "text", maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx"), Some(
      // per-doc chunking: 64-token windows, stride 48, list_slice clamps the
      // tail exactly as Spark's slice length-overrun does
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
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),
    // corpus vocabulary: exact top-k lowercased token counts, tie on token
    Query("q_vocab_topk", (s, dir) =>
      TextFeatures.vocabTopK(t(s, dir, "documents"), "text", k = 100)
        .orderBy(desc("freq"), col("token")), Some(
      // exact top-k token counts; the (freq DESC, token) tiebreak makes the
      // k-th boundary deterministic in both engines
      """SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents) t
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin)),
    // CCNet-style LM quality score: mean bits per char transition under the
    // corpus's own add-one char-bigram model — fully replayed in DuckDB
    Query("q_lm_score", (s, dir) =>
      LmScore.charBigramScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("lm_bits"), 6).as("lm_bits"))
        .orderBy("doc_id"), Some(
      // add-one char-bigram model over the corpus itself, mean bits/transition
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // fastText-style model-based quality gate, deterministic core: hashed
    // bag-of-words Naive Bayes (md5-48 unigram buckets, add-one log-odds)
    // trained on lang='en' as the seed class, scored map-side via the fused
    // BucketWeightSum kernel; training AND scoring replayed in DuckDB
    Query("q_nb_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val m = graft.text.NbQuality.fit(d, "text", col("lang") === "en", buckets = 4096)
      graft.text.NbQuality.score(d, "doc_id", "text", m)
        .select(col("doc_id"), round(col("log_odds"), 6).as("log_odds"))
        .orderBy("doc_id")
    }, Some(
      // hashed-bag Naive Bayes replayed end-to-end: md5-48 unigram hashes mod
      // 4096 (the digit-sum md5 formulation), exact per-(bucket,class) token
      // counts, add-one log-odds weights, per-doc weight sum + doc-prior bias
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
        |ORDER BY toks.doc_id""".stripMargin)),
    // DSIR data selection (Xie et al. 2023): importance log-weights of a
    // target-domain char-bigram LM (the English subset) against the
    // background model (whole corpus), then Gumbel-top-k resampling in log
    // space — both the weights and the exact sample membership replayed by
    // DuckDB over the same md5 buckets
    Query("q_dsir_select", (s, dir) => {
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
    }, Some(
      // DSIR: two add-one bigram models (target = lang 'en', background =
      // all), per-doc summed log-likelihood ratio, Gumbel-top-k over the same
      // md5 buckets as q_weighted_sample (ln(-ln u) - log2_w*ln 2, ascending)
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
        |ORDER BY doc_id""".stripMargin)),
    // BM25 ranked retrieval: the posting-list join restricted to the
    // query's terms (shuffle is O(matches)); idf/tf/length-norm replayed
    // exactly in SQL over the shared whitespace tokenization
    Query("q_bm25", (s, dir) =>
      Bm25.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "merge", "window"), k = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id"), Some(
      // BM25 over the shared whitespace tokenization: tf per (doc, query
      // term), |query|-row docfreq, 1-row (N, avgdl); Robertson idf
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
        |ORDER BY doc_id""".stripMargin)),
    // corpus observability report: per (lang, source) doc/token/char sums
    // and each cell's share of corpus tokens (1-row broadcast total)
    Query("q_corpus_stats", (s, dir) => {
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
    }, Some(
      // per-(lang, source) doc/token/char sums + share of corpus tokens;
      // BIGINT casts pin DuckDB's HUGEINT widening
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
        |ORDER BY lang, source""".stripMargin)),
    // quarters by id: WAV, BMP (REAL pure-JVM decodes: sample stats / pixel
    // luma), PNG (REAL JDK ImageIO decode), raw text (sniff + stub path) —
    // all payloads deterministically derived from (doc_id, text)
    Query("q_media_features", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          BinaryFeatures.MediaRow(id, BinaryFeatures.syntheticMedia(id, text))
        }
      BinaryFeatures.decodeFeatures(s, media).toDF().orderBy("id")
    }, None), // no oracle: binary media
    Query("q_simhash_sigs", (s, dir) =>
      Dedup.simHash(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"), None), // no oracle: xxhash64-specific
    // portable 48-bit SimHash (md5 token hash) — DuckDB recomputes the
    // sign-of-bit-sums construction bit-for-bit; the xxhash64 64-bit
    // production variant above stays rows-only
    Query("q_simhash_md5", (s, dir) =>
      Dedup.simHash48Md5(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"), Some(
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
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // the candidate-JOIN mechanism over the portable signatures: Manku-style
    // multi-table matching (C(6,3) = 20 tables keyed on 3-of-6 8-bit blocks)
    // is exhaustive for Hamming <= 3, so the verified pairs equal DuckDB's
    // brute-force bit_count(xor) <= 3 ground truth — the oracle checks the
    // construction misses nothing and the Hamming verify adds nothing
    Query("q_simhash_md5_pairs", (s, dir) => {
      val sigs = Dedup.simHash48Md5(t(s, dir, "documents"), "doc_id", "text")
      Dedup.simHashCandidates(sigs, "doc_id", maxHamming = 3,
        sigCol = "simhash48", bits = 48).orderBy("a", "b")
    }, Some(
      // brute-force ground truth for the multi-table candidate construction:
      // the Spark side is banded (20 tables × 24-bit keys) + exact verify, and
      // must equal ALL pairs within Hamming 3 — integer bit sums make the sig
      // CTE deterministic, MATERIALIZED just avoids recomputing it per side
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
        |ORDER BY a, b""".stripMargin)),
    // LSH banding over the PORTABLE md5 minhash signatures (2 bands × 2
    // rows): DuckDB recomputes the signatures and the band-equality pairs,
    // verifying the banding mechanism cross-engine
    Query("q_minhash_md5_pairs", (s, dir) => {
      val sigs = Dedup.minHashSignaturesMd5(t(s, dir, "documents"), "doc_id", "text", 3, 4)
      Dedup.minHashCandidates(sigs, "doc_id", bands = 2, rowsPerBand = 2).orderBy("a", "b")
    }, Some(
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
        |ORDER BY a, b""".stripMargin)),
    // incremental dedup: odd doc_ids are the "new crawl", even the stored
    // corpus signature index; band-join + component-agreement verify, all
    // replayed on the portable md5 signatures so DuckDB reproduces every
    // match and agreement exactly
    Query("q_index_matches", (s, dir) => {
      val d = t(s, dir, "documents")
      val sigs = Dedup.minHashSignaturesMd5(d, "doc_id", "text", 3, 4)
      Dedup.indexMatches(
        sigs.where(pmod(col("doc_id"), lit(2)) === 1),
        sigs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", bands = 2, rowsPerBand = 2, minAgreement = 0.75)
        .select(col("doc_id"), col("dup_of"), round(col("agreement"), 6).as("agreement"))
        .orderBy("doc_id")
    }, Some(
      // same signature replay; batch (odd) vs index (even) band join, then
      // agreement = fraction of equal components, best match per batch doc
      // (ties to smallest corpus id). sig is referenced twice in a
      // comparison -> MATERIALIZED (integer mins are deterministic, but the
      // repo rule is unconditional)
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
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    // MinHash with a PORTABLE hash (first 12 hex chars of md5 as an
    // integer) so DuckDB can recompute the exact signatures — verifies the
    // minhash mechanism itself cross-engine; the production path
    // (q_minhash_pairs) uses xxhash64 for speed.
    Query("q_minhash_md5", (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      def minhash(i: Int) = array_min(transform(col("sh"), sg =>
        Dedup.md5Hash48(concat(lit(s"$i:"), sg))))
      sh.select(col("doc_id") +: (0 until 4).map(i => minhash(i).as(s"h$i")): _*)
        .orderBy("doc_id")
    }, Some(
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
        |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // 32 signatures / 16 bands of 2 rows: P(miss a pair at jaccard 0.8) =
    // (1−0.8²)^16 ≈ 8e-8, so the banding candidates recover every true pair
    // on this corpus and the output equals the brute-force oracle
    Query("q_near_duplicates", (s, dir) =>
      Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.8, signatures = 32, bands = 16)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b"), Some(
      // brute-force ground truth: ALL pairs with exact shingle-jaccard >= 0.8
      // (the engine's banding parameters guarantee full recall at this
      // threshold — see the query registration comment)
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
        |SELECT ia AS a, ib AS b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.8 ORDER BY a, b""".stripMargin))
  )
}
