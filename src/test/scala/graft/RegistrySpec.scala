package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one record per query in its layer's object under
  * `graft.queries`, read into `SparkEntry.queries` and `SparkEntry.oracleSql`.
  * The names and the digest pin the registry as it stood before the records
  * were split into layers: moving a query between layers changes neither. */
class RegistrySpec extends AnyFunSuite {
  private val names = Seq(
    "q_aov", "q_aov_seq", "q_asof_join", "q_asof_strict", "q_asof_tolerance", "q_auc", "q_backfill",
    "q_bm25", "q_boruta", "q_budget_mix", "q_budget_select", "q_canonicalize", "q_car_lambda",
    "q_chisq_stat", "q_chunk_text", "q_corpus_stats", "q_corr_pearson", "q_corr_spearman",
    "q_cosine_neardup", "q_cosine_sims", "q_curation_pipeline", "q_decontaminate",
    "q_decontaminate_bloom", "q_dedup_clusters", "q_dedup_exact", "q_dedup_latest",
    "q_domain_quota", "q_dsir_select", "q_dup_spans", "q_entropy_scores", "q_event_props", "q_fcbf",
    "q_fingerprint", "q_fingerprint_rolling", "q_forest", "q_hash_split", "q_hits",
    "q_html_extract", "q_index_matches", "q_jaccard_pairs", "q_jaccard_target", "q_kmeans",
    "q_knn_brute", "q_knn_ivf", "q_knn_lsh", "q_knn_quantized", "q_knn_quantized_ivf", "q_lag_lead",
    "q_langid", "q_line_dedup", "q_linear", "q_link_stats", "q_lm_score", "q_lsh_buckets",
    "q_media_features", "q_median_split", "q_minhash_md5", "q_minhash_md5_pairs", "q_minhash_pairs",
    "q_mrmr", "q_nb_quality", "q_near_duplicates", "q_normalize", "q_pack_sequences", "q_pagerank",
    "q_quality", "q_quantize", "q_redact_pii", "q_relief", "q_repetition", "q_revisit_index",
    "q_rolling", "q_salted_count", "q_select_pipeline", "q_semantic_dedup", "q_sessionize",
    "q_shuffle_rank", "q_simhash_md5", "q_simhash_md5_pairs", "q_simhash_pairs", "q_simhash_sigs",
    "q_stratified_sample", "q_tokens", "q_training_prep", "q_tree", "q_url_parse", "q_vip_gbt",
    "q_vocab_topk", "q_weighted_sample")

  test("the registered query names are the pinned 89") {
    assert(SparkEntry.queries.keys.toSeq.sorted == names)
  }

  test("the (name, oracle) pairs hash to the pinned digest") {
    val text = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n + "\u0000" + SparkEntry.oracleSql.getOrElse(n, "\u0001")).mkString("\u0000")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "da4e68ec7273605714fd526b2e9e1b32fec038d1e9279d7ac3a9ad435bc1c459")
  }

  test("every oracle names a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size == 80)
  }

  test("no query name is registered twice") {
    val registered = SparkEntry.registry.map(_.name)
    assert(registered.distinct.size == registered.size)
  }
}
