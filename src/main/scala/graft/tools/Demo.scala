package graft.tools
import org.apache.spark.sql.functions._
import graft.operators._
import graft.schema.SchemaInfo

object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val nested = ord.join(
      li.groupBy("l_orderkey").agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("items")),
      col("o_orderkey") === col("l_orderkey"), "left"
    ).select(col("o_orderkey"), col("o_custkey"), struct(col("o_totalprice"), col("items")).as("detail"))

    println("== SchemaInfo.render ==")
    println(SchemaInfo.render(nested.toDF))

    println("== Flatten (inner) ==")
    val flat = Flatten.flatten(nested.toDF)
    flat.show(5)
    println(s"flat rows=${flat.count} (lineitem rows=${li.count})")

    println("== Flatten outer ==")
    println(s"outer rows=${Flatten.flatten(nested.toDF, join = FlattenJoin.Outer).count} (orders=${ord.count})")

    println("== include clusion ==")
    Flatten.flatten(nested.toDF, include = Seq("o_orderkey", "detail.items"): Seq[String]).show(3)

    println("== conflict probe ==")
    val conflicted = nested.withColumn("other", array(lit(1), lit(2)))
    try { Flatten.flatten(conflicted.toDF); println("NO ERROR - BAD") }
    catch { case e: IllegalArgumentException => println("caught: " + e.getMessage) }
    println(s"available-strategy cols=${Flatten.flatten(conflicted.toDF, strategy = FlattenStrategy.FlattenAvailable).columns.toList}")

    println("== bad clusion probe ==")
    try { Flatten.flatten(nested.toDF, include = "detail.nope"); println("NO ERROR - BAD") }
    catch { case e: IllegalArgumentException => println("caught: " + e.getMessage) }

    println("== physical plan ==")
    flat.explain("formatted")

    println("== n-gram jaccard: exact vs df-capped ==")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exactJ = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.9).count()
    val cappedJ = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.9, maxDocFreq = 20).count()
    println(s"jaccard pairs exact=$exactJ df-capped(20)=$cappedJ")

    println("== embedding near-dup: exact vs LSH-bucketed ==")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exactPairs = graft.operators.Similarity
      .embeddingNearDupPairs(emb, "vec_id", "embedding", 0.45).count()
    val lshPairs = graft.operators.Similarity
      .embeddingNearDupPairsLSH(emb, "vec_id", "embedding", 0.45).count()
    println(s"exact pairs=$exactPairs lsh pairs=$lshPairs (lsh <= exact expected)")

    println("== Bucketing: co-located join without shuffle ==")
    Seq("demo_li_b", "demo_ord_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Bucketing.writeBucketed(
      li.select(col("l_orderkey"), col("l_quantity")), "demo_li_b", "l_orderkey", 4)
    graft.operators.Bucketing.writeBucketed(
      ord.select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "demo_ord_b", "l_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bj = graft.operators.Bucketing.bucketedJoin(spark, "demo_li_b", "demo_ord_b", "l_orderkey")
    println("bucketed join rows=" + bj.count() +
      " shuffle-free=" + !bj.queryExecution.executedPlan.toString.contains("hashpartitioning"))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    println("== Sources.readParquet pruned scan ==")
    val prunedLi = graft.sources.Sources.readParquet(
      spark, "/root/testdata/sf0.001/lineitem.parquet",
      include = Seq("l_orderkey", "l_quantity"): Seq[String])
    println(s"pruned schema: ${prunedLi.schema.catalogString}, rows=${prunedLi.count}")
    prunedLi.explain("formatted")

    println("== round-2 operators ==")
    val hot = ord.filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"))
    val bloomed = graft.operators.BloomJoin.join(
      li.select(col("l_orderkey"), col("l_quantity")), hot,
      "l_orderkey", "o_orderkey")
    println("bloom-joined rows=" + bloomed.count())

    val renested = graft.operators.Nest.nest(
      li.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Seq("l_orderkey"), Seq("l_linenumber", "l_quantity"), "items",
      sortBy = Seq("l_linenumber"))
    println("nest->flatten round-trip rows=" +
      graft.operators.Flatten.flatten(renested).count())

    val scored = li.select(col("l_orderkey").as("key"),
      col("l_partkey").as("id"), col("l_quantity").as("score"))
    println("topk rows=" + graft.operators.TopK.perKey(
      scored.filter(col("key") < 8), "key", "id", "score", 3).count())

    val z = graft.operators.ZOrder.layoutByZ(
      li.select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", partitions = 4)
    println("zorder-layout partitions=" + z.rdd.getNumPartitions)

    println("== round-5 curation operators ==")
    val emb5 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fit = graft.operators.KMeans.fit(emb5, "vec_id", "embedding", k = 4)
    println("kmeans clusters=" +
      fit.select(col("cluster")).distinct().count())
    println("semantic near-dup pairs=" + graft.operators.KMeans
      .semanticNearDupPairs(emb5, "vec_id", "embedding", k = 4,
        minCosE4 = 4200L).count())

    val docs5 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val decon = graft.operators.Decontaminate.overlapReport(
      docs5.filter(col("doc_id") % 97 =!= 0),
      docs5.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3)
    println("decontamination flagged=" +
      decon.filter(col("contaminated") === 1).count())

    println("quota sample rows=" + graft.operators.Sampling
      .quotaSample(docs5, "doc_id", "source", n = 3).count())

    val wav = graft.operators.Multimodal.encodeWavPcm16(
      Seq(0, 1000, -1000, 32767, -32768), 16000)
    import spark.implicits._
    val audio = graft.operators.Multimodal.decodeAudio(
      Seq((1L, wav)).toDF("id", "payload"), "payload")
    println("audio decode n_samples=" +
      audio.select(col("decoded.n_samples")).head().getLong(0))

    // PQ: fit 4 subspace codebooks, encode, ADC-search
    val pqBooks = graft.operators.PQ.fit(emb5, "vec_id", "embedding",
      dim = 64, m = 4, k = 8)
    val pqCodes = graft.operators.PQ.encode(emb5, "vec_id", "embedding", pqBooks)
    val pqQuery = emb5.orderBy(col("vec_id")).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    println("pq adc top-3=" + graft.operators.PQ
      .adcTopK(pqCodes, "vec_id", pqBooks, pqQuery, n = 3)
      .collect().map(r => r.getLong(0)).mkString(","))
    println("ivfpq top-3=" + graft.operators.PQ
      .ivfpqTopK(emb5, "vec_id", "embedding",
        emb5.filter(col("vec_id") < 16), "vec_id", pqBooks, pqQuery, n = 3)
      .collect().map(r => r.getLong(0)).mkString(","))

    // C4 line-level cleaning over a synthetic multi-line doc (the
    // shipped documents carry no newlines)
    val lf = graft.operators.LineFilter(
      Seq((1L, "A good first sentence survives here.\ntoo short\n" +
        "We use cookies on this site.\nAnother keeper ends properly!"))
        .toDF("id", "text"), "text")
      .select(col("n_lines"), col("n_kept")).head()
    println(s"line filter lines=${lf.getLong(0)} kept=${lf.getLong(1)}")

    println("== round-6 retrieval/selection operators ==")
    println("gopher keep rate=" + graft.operators.GopherRules(
      docs5, "doc_id", "text", minWords = 20)
      .filter(col("keep") === 1).count() + "/" + docs5.count())
    println("bm25 top-3 docs=" + graft.operators.Retrieval.bm25(
      docs5, "doc_id", "text", Seq("spark", "query", "join"), topK = 3)
      .collect().map(_.getLong(0)).mkString(","))
    println("mmr picks=" + graft.operators.Similarity.mmrRerank(
      emb5.filter(col("vec_id") === 0), emb5,
      "vec_id", "vec_id", "embedding", shortlist = 8, k = 3)
      .orderBy(col("rank")).collect().map(_.getLong(1)).mkString(","))

    println("== round-6 ingest/fusion/LM/video operators ==")
    // incremental ingest dedup: the %10=7 batch probes the corpus index
    println("incremental near-dup pairs=" + graft.operators.Dedup
      .incrementalMinhashPairs(
        docs5.filter(col("doc_id") % 10 =!= 7),
        docs5.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", minEstimate = 0.3).count())
    // RRF: fuse the bm25 list with the vector list
    val lexW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id").asc)
    val lex = graft.operators.Retrieval.bm25(
        docs5, "doc_id", "text", Seq("spark", "query", "join"), topK = 10)
      .withColumn("rank", row_number().over(lexW).cast("long"))
      .select("doc_id", "rank")
    val vecl = graft.operators.Similarity.bruteForceTopK(
        emb5.filter(col("vec_id") === 0L), emb5,
        "vec_id", "vec_id", "embedding", k = 10)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    println("rrf top-3=" + graft.operators.Retrieval
      .rrfFuse(Seq(lex, vecl), "doc_id", "rank", topK = 3)
      .collect().map(_.getLong(0)).mkString(","))
    // LM perplexity gate: broadcast model, narrow scoring
    val lm = graft.operators.LanguageModel.trainNgrams(
      docs5.filter(col("doc_id") % 5 === 0), "text", order = 2)
    println("perplexity keep rate=" + graft.operators.LanguageModel
      .ngramNllNarrow(docs5, "doc_id", "text", lm)
      .filter(col("avg_nll_e6") <= 3500000L).count() + "/" + docs5.count())
    // REAL video: animated-GIF round-trip through the JDK codec
    val gif = graft.operators.Multimodal.encodeGifFrames(4, 3,
      Seq((250, 5, 5), (5, 250, 5), (5, 5, 250)))
    val vid = graft.operators.Multimodal.decodeVideo(
      Seq((1L, gif)).toDF("id", "payload"), "payload")
      .select(col("decoded.n_frames")).head().getLong(0)
    println(s"gif video frames=$vid")

    println("== round-7 compression/diagnostics operators ==")
    // 1-bit signatures: 8 bytes/vector, Hamming shortlist, exact refine
    println("hamming rerank top-3=" + graft.operators.Binary
      .hammingRerankTopK(emb5.filter(col("vec_id") === 0L), emb5,
        "vec_id", "vec_id", "embedding", 64, shortlist = 8, k = 3)
      .orderBy(col("rank")).collect().map(_.getLong(1)).mkString(","))
    // recall of the 1-bit search vs exact cosine, e4
    val ex0 = graft.operators.Similarity.bruteForceTopK(
      emb5.filter(col("vec_id") === 0L), emb5, "vec_id", "vec_id", "embedding", k = 5)
    val ap0 = graft.operators.Binary.hammingTopK(
      emb5.filter(col("vec_id") === 0L), emb5, "vec_id", "vec_id", "embedding", 64, k = 5)
    println("hamming recall@5 e4=" + graft.operators.Similarity
      .recallAtK(ex0, ap0, 5).head().getLong(2))
    // the refine path: a 64-vector Hamming shortlist re-ranked by
    // exact cosine recovers most of the exact top-5 (the 1-bit scan
    // alone is weak on near-orthogonal synthetic data — by design,
    // it's a filter, not a ranker)
    val rr0 = graft.operators.Binary.hammingRerankTopK(
      emb5.filter(col("vec_id") === 0L), emb5,
      "vec_id", "vec_id", "embedding", 64, shortlist = 64, k = 5)
    println("hamming+rerank recall@5 e4=" + graft.operators.Similarity
      .recallAtK(ex0, rr0, 5).head().getLong(2))
    // CDC chunk dedup + robust stats + skew diagnostic
    println("cdc dup docs=" + graft.operators.Dedup
      .cdcChunkStats(docs5, "doc_id", "text")
      .filter(col("n_dup_chunks") > 0).count())
    val rs = graft.operators.RobustStats.stats(
      docs5.select(col("lang"), col("n_chars")), "lang", "n_chars")
      .orderBy(col("lang")).head()
    println(s"robust n_chars (lang=${rs.getString(0)}): median=${rs.getLong(2)} mad=${rs.getLong(3)}")
    val sk = graft.operators.Salting.skewStats(docs5, "source", topN = 1,
      targetPerBucket = 16L).head()
    println(s"heaviest source=${sk.get(1)} cnt=${sk.getLong(2)} salt=${sk.getLong(4)}")

    println("== round-11 curation/event operators ==")
    // contamination span scrub: leaked 8-grams removed, docs kept
    val scrub = graft.operators.Decontaminate.scrubOverlaps(
      docs5.filter(col("doc_id") % 97 =!= 0),
      docs5.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 8)
    println("scrubbed docs=" + scrub.filter(col("n_kept") < col("n_words"))
      .count() + " of " + scrub.count())
    // blocklist pass: exact-token hits under a budget
    val bl = graft.operators.Quality.blocklistAnnotate(
      docs5, "doc_id", "text", Seq("slow", "bug", "crash"), maxHits = 2)
    println("blocklist keep rate=" + bl.filter(col("keep") === 1).count() +
      "/" + bl.count())
    // D4 prototypicality pruning over the embedding table
    val pp = graft.operators.KMeans.protoPrune(emb5, "vec_id", "embedding",
      k = 8, steps = 2, dropPct = 25)
    println("proto-prune dropped=" + pp.filter(col("kept") === 0).count() +
      "/" + pp.count())
    // ordered-step funnel + daily retention over the event log
    val ev5 = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("us", expr("ts div 1000"))
    val fn = graft.operators.Funnel.funnel(ev5, "user_id", "us",
      "event_id", "event_type", Seq("signup", "view", "click", "purchase"))
    println("funnel depths=" + fn.groupBy(col("depth")).count()
      .orderBy(col("depth")).collect()
      .map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(","))
    val rt = graft.operators.Funnel.retention(ev5, "user_id", "us",
      periodLen = 86400000000L)
    println("retention cells=" + rt.count() + " day0 users=" +
      rt.filter(col("offset") === 0).agg(sum(col("n_users"))).head().getLong(0))
    // most-travelled 3-step path (discovery pass for funnel design)
    val tp = graft.operators.Funnel.topPaths(ev5, "user_id", "us",
      "event_id", "event_type", n = 3, k = 1).head()
    println(s"top path=${tp.getString(0)} n=${tp.getLong(1)}")
    // as-of forward / nearest: conversion + attribution joins
    val signups = ev5.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("us"))
    val purchases = ev5.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
    val fwd = graft.operators.AsOfJoin.forward(signups, purchases,
      Seq("user_id"), "us", "us", Seq("us" -> "conv_us"))
    println("asof fwd conversions=" +
      fwd.filter(col("conv_us").isNotNull).count() + "/" + fwd.count())
    val near = graft.operators.AsOfJoin.nearest(signups, purchases,
      Seq("user_id"), "us", "us", Seq("us" -> "near_us"),
      tolerance = Some(86400000000L))
    println("asof nearest within 1d=" +
      near.filter(col("near_us").isNotNull).count())
    // per-source reputation gate
    val rep = graft.operators.Reputation.sourceStats(docs5,
      "text", "source", "lang", graft.functions.TextFunctions.stopwords("en"))
    val worst = rep.orderBy(col("rep_e4").asc).head()
    println(s"worst source=${worst.getString(0)} rep_e4=${worst.getLong(7)}")
    println("reputation-kept docs=" + graft.operators.Reputation
      .sourceFilter(docs5, "text", "source", "lang",
        graft.functions.TextFunctions.stopwords("en"), minRep = 5900L)
      .count() + "/" + docs5.count())
    // warehouse maintenance: SCD2 history + CDC latest-wins snapshot
    val chg = ev5.select(col("user_id"), col("us"), col("event_id"),
      floor(col("value") / 100).cast("long").as("bucket"),
      (col("event_type") === "error").as("is_delete"))
    val hist = graft.operators.Scd.scd2(chg, "user_id", "us", "event_id",
      "bucket")
    println("scd2 intervals=" + hist.count() + " current=" +
      hist.filter(col("is_current") === 1).count())
    println("cdc snapshot rows=" + graft.operators.Scd.mergeLatest(
      chg, "user_id", "us", "event_id", "is_delete", Seq("us", "bucket"))
      .count())
    // promote gate: data-quality assertion suite over the star schema
    val checks = graft.SparkEntry.queries("q_expectations")(spark,
      "/root/testdata/sf0.001")
    println("expectations passing=" +
      checks.filter(col("pass") === 1).count() + "/" + checks.count())
    // kNN graph: every vector's top-3 neighbors, one pass
    val g = graft.operators.Similarity.knnGraphLSH(emb5, "vec_id",
      "embedding", dim = 64, k = 3)
    println("knn graph edges=" + g.count() + " ids=" +
      g.select("vec_id").distinct().count())
    // resampled uncertainty: per-flag price mean with half-sample CI
    val ci = graft.operators.Bootstrap.halfSampleCI(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn("__key", col("l_orderkey") * 8 + col("l_linenumber")),
      "l_returnflag", "l_extendedprice", "__key")
      .orderBy("l_returnflag").head()
    println(f"bootstrap ci flag=${ci.getString(0)} mean=${ci.getDouble(2)}%.2f" +
      f" +-1.96se=[${ci.getDouble(4)}%.2f, ${ci.getDouble(5)}%.2f]")
    // round 12: sampled sketch-quality eval (precision census + md5
    // doc-keyed recall sample, both with half-sample 95% CIs)
    val pr = graft.queries.DedupQueries.prEvalSampled(docs5).head()
    println(s"pr_eval precision_e4=${pr.getAs[Long]("precision_e4")}" +
      s" recall_e4=${pr.getAs[Long]("recall_e4")}" +
      f" rec95=[${pr.getAs[Double]("rec_lo95")}%.4f," +
      f" ${pr.getAs[Double]("rec_hi95")}%.4f]" +
      s" truth_sample=${pr.getAs[Long]("n_truth_sample")}")
    // round 12: native streaming session windows (gap aggregation)
    val sess = graft.SparkEntry.queries("stream_sessionize")(spark,
      "/root/testdata/sf0.001")
    println("stream sessionize users=" + sess.count() + " sessions=" +
      sess.agg(sum(col("n_sessions"))).head().getLong(0))
    // round 13: semi-supervised host labeling over the shared-gram
    // graph (src0 seeded good, src1 bad; belief in [0, 1e12])
    val lp = graft.SparkEntry.queries("q_label_prop")(spark,
      "/root/testdata/sf0.001")
    println("label prop nodes=" + lp.count() +
      " good=" + lp.filter(col("side") === 1).count() +
      " bad=" + lp.filter(col("side") === -1).count() +
      " graded=" + lp.filter(col("belief_e12") % 500000000000L =!= 0)
        .count())
    // round 13: closed-form Naive Bayes filter vs the perceptron —
    // the ensemble's agreement rate through the public API
    val ens = graft.SparkEntry.queries("q_quality_ensemble")(spark,
      "/root/testdata/sf0.001")
    println("quality ensemble docs=" + ens.count() +
      " unanimous=" + ens.filter(col("votes") === 3).count() +
      " kept=" + ens.filter(col("keep") === 1).count())
    // round 13: incremental k-means ingest — the arriving tenth
    // re-assigned against exactly-folded centroids
    val ku = graft.operators.KMeans.updateAssign(
      emb5.filter(col("vec_id") % 10 =!= 7),
      emb5.filter(col("vec_id") % 10 === 7),
      "vec_id", "embedding", k = 8, steps = 2)
    println("kmeans ingest batch=" + ku.count() + " clusters=" +
      ku.select("cluster").distinct().count())
    // round 14: DoReMi-shaped mixture reweighting — sources above
    // the corpus-mean NLL gain sampling share, integer-exact
    val dr = graft.SparkEntry.queries("q_domain_reweight")(spark,
      "/root/testdata/sf0.001")
    println("domain reweight domains=" + dr.count() +
      " upweighted=" + dr.filter(col("excess_e6") > 0).count() +
      " share_sum_e4=" + dr.agg(coalesce(sum(col("new_share_e4")), lit(0L)))
        .head().getLong(0))
    // round 14: k-anonymity risk profile over (source, lang, length)
    val ka = graft.SparkEntry.queries("q_k_anonymity")(spark,
      "/root/testdata/sf0.001")
    println("k-anonymity k-levels=" + ka.count() +
      " at_risk_docs=" + ka.filter(col("at_risk") === 1)
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
    // round 15: l-diversity — the sensitive-value companion to the
    // k-anonymity profile (a big class that shares one source still
    // leaks it)
    val ld = graft.SparkEntry.queries("q_l_diversity")(spark,
      "/root/testdata/sf0.001")
    println("l-diversity levels=" + ld.count() +
      " at_risk_docs=" + ld.filter(col("at_risk") === 1)
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
    // round 15: excess-loss (learnability) selection — docs the
    // reference finds easy but the corpus model finds hard
    val el = graft.SparkEntry.queries("q_excess_loss")(spark,
      "/root/testdata/sf0.001")
    println("excess loss docs=" + el.count() +
      " selected=" + el.filter(col("selected") === 1).count())
    // round 15: ARI readability grades — the textbook-quality bucket
    val ri = graft.SparkEntry.queries("q_readability")(spark,
      "/root/testdata/sf0.001")
    println("readability docs=" + ri.count() + " grade range=[" +
      ri.agg(min(col("grade"))).head().getLong(0) + "," +
      ri.agg(max(col("grade"))).head().getLong(0) + "]")
    // round 15: collision-verified exact-substring dedup — the
    // text-verified dup counts vs the hash-keyed ones (identical on
    // a collision-free corpus; the verified form is what survives
    // 100 TB span counts)
    val sv = graft.operators.Dedup.dupSpanStatsVerified(docs5, "doc_id", "text")
    val su = graft.operators.Dedup.dupSpanStats(docs5, "doc_id", "text")
    println("verified spans dup_docs=" +
      sv.filter(col("n_dup_spans") > 0).count() +
      " (hash-keyed " + su.filter(col("n_dup_spans") > 0).count() + ")" +
      " scrubbed_words=" + graft.operators.Dedup
        .dupSpanRemoveVerified(docs5, "doc_id", "text")
        .agg(coalesce(sum(col("n_words") - col("n_kept")), lit(0L)))
        .head().getLong(0))
    // round 16: HTML main-content extraction — the crawl-pipeline
    // stage before every text operator; body prose survives, chrome
    // (nav/footer/links/images) classified out by integer line rules
    val hx = graft.SparkEntry.queries("text_extract_html")(spark,
      "/root/testdata/sf0.001")
    println("html extract docs=" + hx.count() +
      " kept_blocks=" + hx.agg(sum(col("n_kept"))).head().getLong(0) +
      " of " + hx.agg(sum(col("n_blocks"))).head().getLong(0))
    val bp = graft.SparkEntry.queries("text_boilerplate")(spark,
      "/root/testdata/sf0.001")
    println("boilerplate profile: " + bp.orderBy(col("reason"))
      .collect().map(r => r.getAs[String]("reason") + "=" +
        r.getAs[Long]("n_blocks")).mkString(" "))
    val ol = graft.SparkEntry.queries("text_outlinks")(spark,
      "/root/testdata/sf0.001")
    println("outlinks edges=" + ol.count() + " sections=" +
      ol.select(col("section")).distinct().count() +
      " targets=" + ol.select(col("href")).distinct().count())
    // round 16: t-closeness — the privacy ladder's third rung
    // (skew of a class's sensitive distribution vs the corpus)
    val tc = graft.SparkEntry.queries("q_t_closeness")(spark,
      "/root/testdata/sf0.001")
    println("t-closeness buckets=" + tc.count() +
      " at_risk_docs=" + tc.filter(col("at_risk") === 1)
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
    // round 16: calibration curve — what an ensemble threshold MEANS
    val cc = graft.SparkEntry.queries("q_calibration")(spark,
      "/root/testdata/sf0.001")
    println("calibration bins=" + cc.count() + " rate range=[" +
      cc.agg(min(col("pos_rate_e4"))).head().getLong(0) + "," +
      cc.agg(max(col("pos_rate_e4"))).head().getLong(0) + "]e4")
    // round 16: crawl-side — canonical URLs, host graph, frontier
    val uc = graft.SparkEntry.queries("text_url_canon")(spark,
      "/root/testdata/sf0.001")
    println("url canon rows=" + uc.count() + " distinct_urls=" +
      uc.select(col("url")).distinct().count() + " domains=" +
      uc.select(col("domain")).distinct().count())
    val hg = graft.SparkEntry.queries("q_host_graph")(spark,
      "/root/testdata/sf0.001")
    println("host graph domains=" + hg.count() + " max_in_links=" +
      hg.agg(max(col("in_links"))).head().getLong(0))
    val cf = graft.SparkEntry.queries("q_crawl_frontier")(spark,
      "/root/testdata/sf0.001")
    println("frontier urls=" + cf.count() + " hosts=" +
      cf.select(col("host")).distinct().count() + " max_round=" +
      cf.agg(max(col("fetch_round"))).head().getLong(0))
    // round 16: robots.txt compliance over the frontier hosts
    val rb = graft.SparkEntry.queries("q_robots_filter")(spark,
      "/root/testdata/sf0.001")
    println("robots urls=" + rb.count() + " disallowed=" +
      rb.filter(col("verdict") === "disallow").count() +
      " max_delay=" + rb.agg(max(col("crawl_delay"))).head().getLong(0))
    // round 16: anchor-text signal per target URL
    val at = graft.SparkEntry.queries("q_anchor_text")(spark,
      "/root/testdata/sf0.001")
    println("anchor terms rows=" + at.count() + " targets=" +
      at.select(col("url")).distinct().count())
    // round 16: WARC container round-trip — crawl ingestion closed
    val wa = graft.SparkEntry.queries("warc_source")(spark,
      "/root/testdata/sf0.001")
    println("warc records=" + wa.count() + " total_chars=" +
      wa.agg(sum(col("n_chars"))).head().getLong(0))
    spark.stop()
  }
}
