package lakebench

/** The `queries` selection: `profile/select.py` applied to the committed
  * profile `profile/queries_sf0.1.json`, with the layer each entry is there
  * to exercise. Neither memo group (AdvancedOps.ccMemo: q57/q63;
  * GraphOps.coMemo: q117/q126/q154) is included, so no wall depends on
  * the order of a pass.
  */
object QueryList {
  val entries: Seq[(String, String)] = Seq(
    "q122_bpe_encode" -> "operators: most executor CPU among entries under 0.8 s",
    "q198_dsir_weights" -> "kernels: tok_buckets and tok_stats",
    "q278_lsh_load" -> "kernels: minhash_sigs",
    "q27_cosine_near_dup" -> "kernels: vec_dot",
    "q05_topk_orders" -> "scheduling: job-floor-bound",
    "q93_date_spine" -> "scheduling: job-floor-bound",
    "q279_fightin_words" -> "scheduling: job-floor-bound",
    "q35_pgn_pipeline" -> "PGN source, trie enrichment and export projection through the query suite")

  val names: Seq[String] = entries.map(_._1)
}
