package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Load probe beyond the largest driver-provided scale factor.
  *
  * The shipped test data tops out at sf0.1 (~600 k lineitem rows,
  * 5 k documents); every bench number so far says nothing about
  * whether the candidate-join dedup operators, ANN, or components
  * stay near-linear when the tables grow 10-30x. This tool
  * materializes an R-fold replicated copy of the sf0.1 tables under
  * a scratch dir and times the scale-sensitive queries on it.
  *
  * Fact keys are shifted per copy (orderkey/custkey/doc_id/vec_id/
  * user_id stay unique, so join fan-out and group counts scale
  * linearly); dimension tables (nation/region/part/supplier) stay
  * fixed — dims grow slower than facts, which keeps broadcast sides
  * broadcastable, exactly the 100 TB plan shape. Text/embedding
  * content replicates in one of two regimes, because each answers a
  * different scaling question:
  *
  *   - mode `dup` (content verbatim): every document gains R-1 exact
  *     near-copies — the heavily-duplicated-crawl regime. Candidate
  *     pair OUTPUT grows ~R^2 per duplicate group; what the probe
  *     checks is that runtime tracks the output size, not n^2 over
  *     the corpus (i.e. the bucketing still prunes non-duplicates).
  *   - mode `fresh` (default): every 5th word rewrites to a
  *     copy-specific token (kills >half the cross-copy shared
  *     shingles, pushing cross-copy Jaccard below every threshold in
  *     use) and embeddings cyclically rotate by 7*copy dimensions
  *     (cosine between rotations of a vector is far below the 0.42
  *     near-dup threshold) — the constant-duplicate-RATE regime,
  *     i.e. genuine corpus growth. Outputs and runtime should both
  *     grow ~linearly; a superlinear runtime here flags a real
  *     scale bug.
  *   - mode `vocab`: every word of copy c > 0 is suffixed with a
  *     copy marker, so the copies have DISJOINT vocabularies and the
  *     total vocabulary grows linearly with the corpus — the
  *     realistic-text regime for the gram/term operators. The sf0.1
  *     corpus draws ~30 distinct words, so under `fresh` the eval
  *     holdout's 3-gram set saturates at large R and decontamination
  *     flags everything (a data artifact, SCALE.md round 5); under
  *     `vocab` the holdout grams stay sparse relative to the corpus,
  *     like real text. Within-copy duplicate/holdout structure is
  *     preserved exactly (one deterministic rewrite per copy).
  *     Embeddings rotate as in `fresh`.
  *
  * Usage: runMain graft.tools.ScaleProbe <R> [mode] [srcDir] [workDir]
  * Emits one JSON line per query with seconds at replication R, plus
  * rows processed; pair two runs (R=1 vs R=10) to read the scaling
  * exponent. Results feed SCALE.md.
  *
  * Large-R subsets (round 15): SPARK_SCALE_TABLES=documents,embeddings
  * replicates ONLY the named fact tables (dims still copy verbatim) —
  * at R=200 (1 M docs) materializing a 120 M-row lineitem nobody
  * probes would dominate the run. When the subset is set,
  * Fixtures.warm is skipped too (media payload fixtures over 1 M docs
  * are ingest cost, not probe work); pair with SPARK_SCALE_ONLY
  * naming queries that touch only the replicated tables.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val r = if (args.nonEmpty) args(0).toInt else 10
    val mode = if (args.length > 1) args(1) else "fresh"
    // a typo'd mode must not silently measure the wrong regime and
    // land in SCALE.md labeled as the intended one
    require(Set("fresh", "dup", "vocab")(mode),
      s"unknown mode '$mode' (expected fresh|dup|vocab)")
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val work = if (args.length > 3) args(3) else "/root/repo/tmp/scale"
    val dest = s"$work/r$r$mode"

    // the session arms CodegenGuard: the probe fails on silent
    // interpreted fallbacks
    val spark = graft.GraftSession.local()
    import spark.implicits._

    // A bare directory is NOT proof of a complete dataset — a run
    // killed mid-replicate leaves partial parquet that later probes
    // would silently measure. Only the completion marker (written
    // after the last table lands) allows the skip; anything else is
    // deleted and rebuilt.
    val tables: Set[String] = sys.env.get("SPARK_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val marker = Paths.get(dest, "_REPLICATED")
    val expected = s"r=$r mode=$mode" +
      (if (tables.isEmpty) "" else s" tables=${tables.toSeq.sorted.mkString(",")}")
    val complete = Files.isRegularFile(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == expected
    if (!complete) {
      if (Files.isDirectory(Paths.get(dest))) deleteTree(dest)
      replicate(spark, src, dest, r, mode, tables)
      Files.write(marker, (expected + "\n").getBytes("UTF-8"))
    }

    // The scale-sensitive set: candidate-join dedup, ANN, iterative
    // components, plus two relational anchors whose near-perfect
    // scaling calibrates the box (if q1_agg itself goes superlinear,
    // the run is noise, not signal).
    val allNames = Seq(
      "q1_agg", "q5_join", "q3_topk",
      "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_winnow",
      "dedup_jaccard_capped", "dedup_components", "dedup_components_stars",
      "dedup_embedding_lsh", "dedup_semantic",
      "dedup_embedding_lsh_auto", "dedup_semantic_auto",
      "dedup_spans", "dedup_span_remove",
      "dedup_spans_verified", "dedup_span_remove_verified",
      "q_dsir", "q_quality_filter",
      "knn_cosine", "knn_lsh", "knn_ivf", "q_kmeans",
      "q_pq", "knn_pq_adc", "knn_pq_rerank", "knn_ivfpq",
      "text_tfidf", "text_decontaminate", "text_chunk",
      "q_sessionize", "q_tumbling", "q_curate_e2e",
      "q_bm25", "dedup_keep_best", "q_gopher_rules", "knn_mmr",
      "dedup_incremental", "q_perplexity", "q_rrf",
      "q_perplexity_bcast", "q_rrf_batch",
      "q_bm25_batch", "q_heavy_hitters",
      "q_pagerank", "q_cms", "q_split_leakage",
      "dedup_segments", "q_drift_psi", "q_drift_js", "q_snapshot_diff",
      "q_sq8", "knn_sq8", "knn_hard_neg", "q_pca", "dedup_tfidf_cosine",
      "q_binsig", "knn_hamming", "knn_hamming_rerank", "q_recall_eval",
      "dedup_cdc", "dedup_containment", "text_entropy",
      "q_robust_stats", "q_skew_stats", "q_length_buckets",
      // q_perplexity3_bcast deliberately absent: unpruned model
      // collection against the salted-vocabulary fresh regime would
      // measure exactly what trainNgrams' pruning knobs exist to
      // cap; the join form is the corpus-scaling path
      "q_interval_join", "q_perplexity3",
      "dedup_cdc_remove", "dedup_cdc_gear", "dedup_cdc_gear_remove",
      "dedup_ensemble", "q_join_card",
      "q_weighted_sample", "q_weighted_stratified", "q_drift_by_group",
      "text_novelty", "q_novel_content", "text_decontaminate_semantic",
      "dedup_pr_eval", "q_drift_semantic", "dedup_cluster_sizes",
      "stream_dedup_ingest", "stream_drift_monitor",
      "stream_media_ingest", "q_min_k_prob",
      "text_decontaminate_scrub", "q_proto_prune",
      "mm_phash", "mm_audio_fp",
      "q_blocklist", "q_funnel", "q_retention", "stream_funnel",
      "q_event_paths", "mm_video_fp",
      "q_asof_fwd", "q_asof_nearest", "q_source_reputation",
      "q_source_filter", "stream_approx_users", "q_scd2", "q_cdc_merge",
      "q_rolling", "q_expectations", "knn_graph", "stream_sink_parquet",
      "knn_graph_ingest", "stream_cdc_upsert", "q_bootstrap_ci",
      "stream_sessionize", "dedup_sketch_calibration",
      "stream_attribution", "stream_redelivery_dedup",
      "q_label_prop", "q_nb_quality", "q_score_normalize",
      "q_contamination_matrix", "q_dedup_yield", "q_pair_mine",
      "q_curriculum_order", "q_vocab_coverage",
      "q_dim_truncate_recall", "q_ivf_recall_curve", "q_kmeans_update",
      "q_score_normalize_hist", "q_quality_ensemble", "q_bm25_rm3",
      "q_write_plan", "q_domain_reweight", "q_k_anonymity",
      "q_l_diversity", "q_excess_loss", "q_readability",
      "text_extract_html", "text_boilerplate", "text_outlinks",
      "q_t_closeness", "q_calibration",
      "text_url_canon", "q_host_graph", "q_crawl_frontier",
      "q_robots_filter", "q_anchor_text")
    // SPARK_SCALE_ONLY=a,b,c re-probes a subset after a change
    // Table-subset runs REQUIRE a query subset (round 16, r15 ADVICE):
    // with only some fact tables replicated under dest, the full
    // allNames sweep would fail (or worse, half-measure) every query
    // touching a missing table — the pairing was previously enforced
    // only by the doc comment above.
    require(tables.isEmpty || sys.env.contains("SPARK_SCALE_ONLY"),
      "SPARK_SCALE_TABLES is set but SPARK_SCALE_ONLY is not: name the " +
        "queries that touch only the replicated tables")
    val names = sys.env.get("SPARK_SCALE_ONLY")
      .map(_.split(",").toSeq).getOrElse(allNames)

    // warm codegen/session
    spark.range(1000).selectExpr("sum(id)").collect()
    // table-subset runs skip the media fixture warm: payload fixtures
    // over a 1 M-doc corpus are ingest cost the probe isn't measuring
    if (tables.isEmpty) {
      try graft.queries.Fixtures.warm(spark, dest)
      catch { case e: Throwable =>
        System.err.println(s"[scale] fixture warm failed: ${e.getMessage}") }
    }

    val results = names.flatMap { name =>
      graft.SparkEntry.queries.get(name).map { fn =>
        // median of 3 noop-write evaluations (full projection — see
        // Bench: count() join-eliminates report-shaped plans); rows
        // counted once outside the timed region
        val times = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dest).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        val rows = fn(spark, dest).count()
        val med = times.sorted.apply(1)
        // incremental progress on stderr: a long probe shows which
        // query it is on, and a killed run still leaves its numbers
        System.err.println(f"[scale] $name r$r$mode $med%.3f s rows=$rows")
        (name, med, rows)
      }
    }
    val qs = results.map { case (n, t, rows) =>
      "\"" + n + "\":{\"sec\":" + f"$t%.3f" + ",\"rows\":" + rows + "}"
    }.mkString("{", ",", "}")
    val codegenErrors = CodegenGuard.report()
    spark.stop()
    println(s"""{"probe":"scale","r":$r,"mode":"$mode","src":"$src","codegen_errors":$codegenErrors,"queries":$qs}""")
    if (codegenErrors > 0) {
      System.err.println(s"[scale] FAILING: $codegenErrors codegen fallback error(s)")
      sys.exit(2)
    }
  }

  private def deleteTree(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(root)) // close: holds directory fds
    try walk.iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Key-shifted R-fold replication of the fact tables; dims copied
    * verbatim. KEYSPAN exceeds every key in the sf0.1 tables so
    * shifted ids never collide across copies. `fresh` selects the
    * constant-dup-rate content rewrite (see class doc).
    */
  private[tools] def replicate(spark: SparkSession, src: String,
                               dest: String, r: Int,
                               mode: String,
                               tables: Set[String] = Set.empty): Unit = {
    import spark.implicits._
    val fresh = mode != "dup" // vocab rewrites embeddings like fresh
    val KEYSPAN = 100000000L
    Files.createDirectories(Paths.get(dest))

    // empty set = every fact table (the historical behavior)
    def wanted(name: String): Boolean = tables.isEmpty || tables(name)

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(r).toDF("copy_n"))

    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("copy_n") * KEYSPAN

    def w(df: DataFrame, name: String): Unit =
      df.drop("copy_n").write.mode("overwrite").parquet(s"$dest/$name.parquet")

    if (wanted("lineitem")) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      w(copies(li).withColumn("l_orderkey", shift("l_orderkey")), "lineitem")
    }

    if (wanted("orders")) {
      val ord = spark.read.parquet(s"$src/orders.parquet")
      w(copies(ord)
        .withColumn("o_orderkey", shift("o_orderkey"))
        .withColumn("o_custkey", shift("o_custkey")), "orders")
    }

    if (wanted("customer")) {
      val cust = spark.read.parquet(s"$src/customer.parquet")
      w(copies(cust).withColumn("c_custkey", shift("c_custkey")), "customer")
    }

    if (wanted("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docText =
      if (mode == "vocab")
        // disjoint vocabulary per copy: suffix every word with the
        // copy marker — total vocabulary grows linearly with the
        // corpus while within-copy structure is untouched
        // leading/trailing whitespace splits to empty tokens — leave
        // those alone, or copies c > 0 would gain bare marker words
        // ("x3") copy 0 doesn't have and per-copy word counts diverge
        when(col("copy_n") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), "\\s+"), wd =>
              when(length(wd) === 0, wd).otherwise(
                concat(wd, lit("x"), col("copy_n").cast("string"))))))
      else if (!fresh) col("text")
      else
        // every 5th word becomes a copy-specific token: ~60% of the
        // 3-word shingles change, so cross-copy Jaccard drops below
        // the 0.3-0.5 thresholds while within-copy dup structure is
        // preserved exactly (all docs of one copy rewrite the same
        // positions the same way)
        when(col("copy_n") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), "\\s+"), (wd, i) =>
              when(i % 5 === 2 && length(wd) > 0,
                concat(lit("xq"), col("copy_n").cast("string"),
                  lit("p"), i.cast("string"))).otherwise(wd))))
    w(copies(docs)
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text", docText), "documents")
    }

    if (wanted("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embVec =
      if (!fresh) col("embedding")
      else {
        // cyclic rotation by 7*copy dims: norm-preserving, keeps the
        // within-copy cluster geometry, but a vector's cosine with
        // its rotation is far below the 0.42 near-dup threshold
        val d = size(col("embedding"))
        val sh = (col("copy_n") * 7 % d).cast("int")
        when(col("copy_n") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), sh + 1, d - sh),
            slice(col("embedding"), lit(1), sh)))
      }
    w(copies(emb)
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("embedding", embVec), "embeddings")
    }

    if (wanted("events")) {
      val ev = graft.queries.Tables.events(spark, src)
      w(copies(ev)
        .withColumn("event_id", shift("event_id"))
        .withColumn("user_id", shift("user_id")), "events")
    }

    for (dim <- Seq("nation", "region", "part", "supplier")) {
      w(spark.read.parquet(s"$src/$dim.parquet"), dim)
    }
  }
}
