package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans (markdown to stdout — captured as
  * PLANS.md). The point is auditability of the scale claims: pushed
  * filters, pruned read schemas, broadcast vs shuffle joins, and
  * whole-stage codegen spans are all visible per query.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [name,name,...] — sf0.001
  * and the headline list by default; cores from SPARK_GRAFT_CPUS
  * (PLANS.md is generated at 4 cores).
  * Before/after plan evidence for a size-guarded mechanism (the scan
  * fan-out) must be dumped at the bench shape (sf0.1, bench cores):
  * below the guard's floor the plans are identical.
  */
object Explain {
  // one representative per operator family
  private val headline = Seq(
    "flatten_nested2",   // explode chain: narrow, no shuffle
    "q1_agg",            // scan filter pushdown + partial agg
    "q5_join",           // broadcast dims vs shuffle fact join
    "q_range_join",      // bucketed equi-join, no BNLJ
    "q_asof",            // union + single window shuffle
    "dedup_minhash",     // shingle->band->bucket equi-join
    "knn_ivf",           // narrow cell assign + broadcast probe join
    "text_tfidf",        // two map-combined shuffles + term join
    "knn_cosine",        // TopK: partial ObjectHashAggregate, k-bounded exchange
    "q_bloom_join",      // bloom-pruned probe side before the join
    "dedup_editdist",    // length-banded candidates + threshold Levenshtein
    "q_zorder",          // Morton interleave, all-integer codegen
    "q_pipeline_e2e",    // filter->dedup->shard->stats in one plan
    "flatten_roundtrip", // pure Generate+Project over the nested fixture scan
    "pbd_source",        // distributed wire decode from record-aligned chunks
    "dedup_embedding_lsh", // bucketed self-join: the 100 TB embedding-dedup path
    "mm_knn",            // real pixel features -> broadcast + TopK partial agg
    "q_kmeans",          // narrow assign vs broadcast centroid literals
    "dedup_semantic",    // cluster-bucketed self-join, exact integer threshold
    "text_decontaminate", // broadcast eval-gram join, no corpus shuffle
    "q_mix",             // narrow md5-threshold filter, zero shuffle
    "q_pq",              // PQ encode: ONE narrow projection, zero exchanges
    "knn_pq_adc",        // ADC lookup literals + TakeOrderedAndProject
    "knn_pq_rerank",     // refine: ADC shortlist broadcast-joined back
    "knn_ivfpq",         // assign+encode narrow, cell-IN probe filter, ADC
    "knn_ivfpq_res",     // residual recipe: same shape, per-cell ADC LUTs
    // (q_bpe_train omitted: its result is a driver-local merge list —
    // the interesting plan is q_bpe_step's, already the same shape)
    "text_clean",        // C4 line rules: pure array expressions, zero shuffle
    "q_curate_e2e",      // filter->near-dedup->decontaminate->chunk, one plan
    "dedup_spans",       // window count on span hash, no self-join
    "dedup_span_remove", // same shape + doc-local rewrite filter
    "dedup_spans_verified", // + bounded candidates-only verify join
    "dedup_span_remove_verified", // verified starts drive the rewrite
    "q_excess_loss",     // ONE pairs explode joined to BOTH models
    "q_l_diversity",     // two bounded aggs, |classes|-row output
    "q_readability",     // narrow counting projection, zero shuffle
    "text_extract_html", // block classify: pure array exprs, zero shuffle
    "text_boilerplate",  // same scan + explode -> <=5-row agg
    "text_outlinks",     // zipped extract_all + posexplode, no shuffle
    "text_url_canon",    // narrow regexp/array projection, zero shuffle
    "q_host_graph",      // one map-combined edge agg + bounded rollups
    "q_crawl_frontier",  // url groupBy + anti-join + per-host window
    "q_robots_filter",   // host-key rule join + composite-min verdict agg
    "q_anchor_text",     // one explode -> url-key count -> same-key window
    "q_t_closeness",     // one corpus scan -> bounded class x value agg
    "q_calibration",     // min/max agg + one map-combined agg, <=20 rows
    "q_dsir",            // importance scoring: narrow fold vs vote literal
    "q_quality_filter",  // perceptron scoring: narrow fold vs weight literal
    "q_bm25",            // bounded posting exchanges + broadcast stats row
    "dedup_keep_best",   // components + score join + bounded top-1 agg
    "q_gopher_rules",    // integer rule table: narrow array exprs, no shuffle
    "dedup_incremental", // batch band keys probe corpus index; no corpus self-join
    "q_perplexity",      // bigram LM gate: gram-key joins, no corpus text shuffle
    "q_curate_rw",       // gopher rules -> LM gate -> chunk stats, one plan
    "q_heavy_hitters",   // shown plan = exact pass 2 over <= k candidates
                         // (pass 1, the MG sketch, runs at build time)
    "q_pagerank",        // shown plan = final round: edge join + sum, reads
                         // the cached previous round (flat lineage)
    "q_cms",             // shown plan = exact top-15 check (the sketch pass
                         // is one map-combined grid agg at build time)
    "q_split_leakage",   // components + narrow md5-bucket projection
    "q_sq8",             // int8 encode: dim codegen'd exprs, zero exchanges
    "knn_sq8",           // integer ADC: broadcast probes + long-dot kernel
    "knn_hard_neg",      // label-pruned broadcast join before the dot
    "q_pca",             // shown plan = the narrow 64-term projection (the
                         // scatter fit is one mapPartitions scan at build)
    "dedup_tfidf_cosine", // df window -> term self-join reusing partitioning
    // (knn_mmr omitted: the greedy rounds run over checkpointed
    // candidate-scale RDD scans — the corpus-touching plan is the
    // shortlist stage, knn_cosine's shape)
    "q_binsig",          // ONE codegen'd sign-signature kernel, zero exchanges
    "knn_hamming",       // 8-byte sig scan: xor+popcount + TopK partial agg
    "knn_hamming_rerank", // sig shortlist broadcast-joined back to raw vectors
    "dedup_cdc",         // narrow HOF chunking -> window df count, no self-join
    "dedup_containment", // df-capped shingle equi-join, directed pair agg
    "text_entropy",      // doc-local char HOFs, zero shuffle
    "q_robust_stats",    // two per-group sorts + broadcast quantile frame
    "q_skew_stats",      // map-combined count agg + bounded TakeOrdered
    "q_length_buckets",  // CASE projection + one aggregation
    "q_interval_join",   // bucketed interval x interval, first-shared-bucket
    "q_perplexity3",     // trigram ladder: gram-key joins, text never shuffles
    "q_perplexity3_bcast", // broadcast trigram maps: zero exchanges
    "dedup_cdc_remove",  // hash-only df pipeline + doc-local rebuild
    "q_join_card",       // two count aggs + key join, one output row
    "dedup_ensemble",    // agreement join of two bounded pair frames
    "text_novelty",      // two map-combined gram aggs, no occurrence join
    "q_novel_content",   // distinct-gram anti join, vocab-bounded exchange
    "text_decontaminate_semantic", // broadcast eval vectors, one corpus scan
    "dedup_pr_eval",     // two banded pair legs + pair-scale PR join
    "dedup_cdc_gear",    // codegen'd Gear rolling pass, same windowed tail
    "mm_cdc",            // byte-level Gear kernel over binary payloads
    "mm_phash",          // dHash + tight-radius banded Hamming self-join
    "q_perplexity5_bcast", // order-5 unified ladder, broadcast maps, 0 exch.
    "q_min_k_prob",      // broadcast-model scorer + in-row order statistic
    "text_decontaminate_scrub", // broadcast grams + broadcast start join-back
    "q_proto_prune",     // narrow assign + one (id,cluster,dist) window exch.
    "q_blocklist",       // broadcast list literal, doc-local fold, 0 exch.
    "mm_audio_fp",       // WAV decode -> fingerprint -> banded Hamming join
    "q_funnel",          // scan-filtered step types, ONE user exchange
    "q_retention",       // distinct (user, period) pairs, integer-only shuffles
    "q_asof_fwd",        // mirrored forward window, one shuffle per side
    "q_asof_nearest",    // both as-of candidates over ONE key exchange
    "q_source_reputation", // hash-window dup leg + tiny per-source aggs
    "q_source_filter",   // broadcast semi-join gate on the source table
    "q_scd2",            // one key exchange, two same-order window passes
    "q_cdc_merge",       // one key exchange, latest-wins row_number filter
    "q_rolling",         // RANGE-frame rolling window, one key exchange
    "q_expectations",    // one pass per table + broadcast FK anti-joins
    "knn_graph",         // auto-banded id-only join + TopK partial agg
    "q_bootstrap_ci",    // 32 replicates in ONE map-combined pass
    "dedup_sketch_calibration", // banded candidates + per-pair exact census
    "q_threshold_sweep", // histogram + cumulative window over BUCKETS
    "q_budget_waterfill", // one corpus agg, then windows over sources
    "q_label_prop",      // shown plan = final round: edge join + floor-mean,
                         // reads the cached previous round (flat lineage)
    "q_nb_quality",      // NB scoring: narrow fold vs log-odds literal
                         // (training is one bucket-bounded agg at build)
    "q_score_normalize", // ONE source exchange, two same-order windows
    "q_contamination_matrix", // broadcast suite grams, hit-triple agg
    "q_dim_truncate_recall",  // per-dim broadcast probes + TopK partials
    "q_ivf_recall_curve",// shared cell assign, per-width probe filters
    "q_vocab_coverage",  // map-combined unit count + bounded TakeOrdered
    "q_dedup_yield",     // components + token projection + source agg
    "q_pair_mine",       // banded LSH candidates + mid-band filter
    "q_curriculum_order", // broadcast-LM scan + bucket-histogram windows
    "q_kmeans_update",   // shown plan = batch re-assignment vs merged
                         // centroid literals (fit scans run at build)
    "q_score_normalize_hist", // span agg + bucket histogram windows +
                              // (group, bucket) join-back — no group sort
    "q_quality_ensemble", // ONE fused scoring scan (both gates), no join
    "q_bm25_rm3",        // shown plan = the expanded second pass (the
                         // feedback pick runs at build, fbDocs-bounded)
    "q_write_plan",      // one map-combined byte agg, |groups| rows out
    "q_domain_reweight", // broadcast-LM scoring scan + |domains| agg +
                         // scalar-mean broadcast + tiny window
    "q_k_anonymity"      // quasi-id agg -> |classes| agg -> k histogram
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = graft.GraftSession.local()

    val which = if (args.length > 1) "named queries" else "headline queries"
    println(s"# Physical plans ($which, $sfDir)")
    println()
    println("Generated by `graft.tools.Explain`; regenerate with:")
    println("`SPARK_GRAFT_CPUS=4 sbt -batch \"runMain graft.tools.Explain\" 2>/dev/null | " +
      "grep -vE '^\\[' > PLANS.md`")
    // (forked-run output passes through raw — build.sbt StdoutOutput —
    // so only sbt's own [info]/[success] lines need stripping)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println()
      println(s"## $name")
      println()
      println("```")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      println("```")
    }
    spark.stop()
  }
}
