package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.TextFunctions.tokenCount

/** Near-duplicate detection over documents/embeddings, each with an
  * arithmetically identical DuckDB oracle (seedless MD5-derived
  * hashing makes the pipelines engine-portable: min over hex strings,
  * integer bit arithmetic, exact rational ratios).
  */
object DedupQueries {

  private val K = 12 // minhash signature length
  private val BANDS = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // shingle→minhash→band→bucket-join candidate pairs
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Tables(s, dir, "documents"), "doc_id", "text",
        numHashes = K, bands = BANDS, minEstimate = 0.5)
        .select(col("id_a"), col("id_b"), col("est_jaccard"))),

    // sketch-quality evaluation: precision/recall of the MinHash-LSH
    // pair set against exact shingle-Jaccard ground truth at the same
    // 0.5 threshold — the tuning loop that justifies (numHashes,
    // bands) before pointing the sketch at a corpus.
    //   - PRECISION is a census: every sketch pair gets its exact
    //     Jaccard verified (cost linear in |sketch pairs|, never a
    //     corpus self-join).
    //   - RECALL runs against a SAMPLED ground truth — pairs whose
    //     smaller id falls in a deterministic md5 1/4 sample
    //     (uniform pair inclusion, so the ratio is an unbiased
    //     recall estimate) — because the full exact-Jaccard pair
    //     frame is the one all-pairs-shaped cost in the repo (warm
    //     trials spanned 4-58 s at sf0.1; the sampled leg caps it at
    //     1/sampleMod). The sample is keyed on DOCUMENTS, not
    //     stratified by MinHash-estimated similarity: a
    //     sketch-bucket-stratified frame can only contain pairs the
    //     sketch's own candidate generator reaches, which is
    //     circular when the quantity under test is what the sketch
    //     MISSES — the doc-keyed sample draws uniformly from the
    //     true pair space (any pair with Jaccard > 0 shares a
    //     shingle) independent of the sketch. The full-exact form
    //     remains the sf0.001 equivalence contract (PrEvalSpec).
    //   - Both estimates carry a 32-replicate HALF-SAMPLE 95% CI
    //     (the Bootstrap.halfSampleCI fold, ratio-of-sums per
    //     replicate, md5-bit membership): ONE aggregation pass per
    //     leg, no resampled copies, exactly replayable in SQL.
    "dedup_pr_eval" -> ((s, dir) =>
      prEvalSampled(Tables(s, dir, "documents"))),

    // sketch CALIBRATION curve — the stratified-by-estimate view of
    // sketch quality: EVERY banded candidate pair (estimate threshold
    // 0, i.e. the sketch's own candidate volume) bucketed by its
    // MinHash estimate (width-0.2 buckets, est=1 folds into the top
    // one), with a per-bucket exact-Jaccard census: pair count, mean
    // estimate, mean exact Jaccard, and P(exact >= 0.5). This is the
    // curve that picks the estimate THRESHOLD (the per-bucket hit
    // rate is the precision a threshold at that bucket's floor would
    // buy) — and unlike a recall sample it is safe to stratify by
    // the sketch's own estimate, because every quantity conditions
    // on the sketch's candidate set. Cost: linear in candidate
    // pairs (the exact census joins each pair to its two shingle
    // sets — never a corpus self-join). All-integer e4 outputs
    // (floor per pair, integer sum, integer div) replay exactly.
    "dedup_sketch_calibration" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val cand = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = K, bands = BANDS, minEstimate = 0.0)
      val ex = Dedup.exactJaccardFor(cand.select(col("id_a"), col("id_b")),
        docs, "doc_id", "text", shingleLen = 3)
      cand.join(ex, Seq("id_a", "id_b"))
        .select(
          least(floor(col("est_jaccard") * 5).cast("long"), lit(4L))
            .as("bucket"),
          floor(col("est_jaccard") * 10000).cast("long").as("__est_e4"),
          floor(col("jaccard") * 10000).cast("long").as("__ex_e4"),
          (col("jaccard") >= 0.5).cast("long").as("__hit"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("__est_e4")).as("__se"),
          sum(col("__ex_e4")).as("__sx"),
          sum(col("__hit")).as("__sh"))
        .select(col("bucket"), col("n_pairs"),
          expr("__se div n_pairs").as("mean_est_e4"),
          expr("__sx div n_pairs").as("mean_exact_e4"),
          expr("__sh * 10000 div n_pairs").as("hit_rate_e4"))
    }),

    // incremental ingest dedup: docs with doc_id % 10 = 7 are "the
    // new batch", the rest "the existing corpus"; pairs touching the
    // batch are found by probing the corpus band index — never a
    // corpus x corpus candidate
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", numHashes = K, bands = BANDS, minEstimate = 0.5)
    }),

    // per-document 16-bit simhash value
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")),

    // exact n-gram Jaccard pairs via shared-shingle join
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, minJaccard = 0.5)),

    // Jaccard over winnowed minima: the w-times-cheaper production
    // form of exact shingle Jaccard (see Dedup.winnowJaccardPairs)
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)),

    // MinHash-LSH parameter planner: the analytic S-curve
    // P(candidate | jaccard j) = 1 - (1 - j^r)^b for each candidate
    // (bands, rows-per-band) config over a j grid — the table that
    // picks b and r BEFORE a run (its empirical counterpart,
    // dedup_sketch_calibration, verifies the choice after). All
    // arithmetic is engine-portable WITHOUT pow(): j = k/20 makes
    // j^r an exact integer ratio (k^r / 20^r, both exact longs), the
    // one division is a single IEEE op, and the ^b fold is unrolled
    // multiplication — identical left-to-right products in both
    // engines, micro-unit floor at the end. Corpus-independent by
    // design (a planner, not a measurement): built from a range
    // frame, zero scans, zero exchanges.
    "q_lsh_power" -> ((s, dir) => {
      import s.implicits._
      val grid = s.range(1, 20).select(col("id").cast("int").as("k"))
      LSH_CONFIGS.map { case (b, r) =>
        val den = math.pow(20, r).toLong // exact: 20^r <= 20^8
        val kr = (1 until r).foldLeft(col("k").cast("long")) {
          (acc, _) => acc * col("k")
        }
        val x = (lit(den) - kr).cast("double") / lit(den.toDouble)
        val xb = (1 until b).foldLeft(x)((acc, _) => acc * x)
        grid.select(
          lit(b).as("bands"), lit(r).as("rows_per_band"),
          (col("k") * 5).as("j_e2"),
          floor(lit(1000000.0) * (lit(1.0) - xb)).cast("long")
            .as("p_collision_e6"))
      }.reduce(_.unionByName(_))
    }),

    // contrastive weak-positive pair MINING: the dedup machinery
    // pointed at training-data generation instead of removal —
    // mid-similarity embedding pairs (cosine in [0.30, 0.42), just
    // BELOW the dedup threshold) are the anchor-positive pairs
    // embedding/reranker training mines from a corpus (copies teach
    // nothing, dissimilar pairs are trivial negatives; the mid band
    // is where the signal is). Same banded LSH candidate path as
    // dedup_embedding_lsh with both band bounds applied to the
    // round-6 cosine INSIDE the operator — mined pairs are a SUBSET
    // of what the bands surface, exactly as in production
    // ANN-candidate mining. Output is the pair LIST (what a
    // training-pair consumer reads); the display-rounded sim is
    // deliberately dropped — a round-4 value sits on .xxxx5 halves
    // where engines' rounding modes disagree.
    "q_pair_mine" -> ((s, dir) =>
      graft.operators.Similarity.embeddingNearDupPairsLSH(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.30, maxCosine = 0.42, dim = 64, nPlanes = 0,
          targetBucket = 32L)
        .select(col("id_a"), col("id_b"))),

    // near-dup group resolution: connected components over the
    // winnow pair graph; component label = surviving doc id
    "dedup_components" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      Dedup.connectedComponents(pairs, docs, "doc_id")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // corpus duplication profile: the histogram of duplicate-cluster
    // sizes ("how duplicated is this corpus, and in what shape —
    // many pairs or a few giant mirrors?") — the one-glance report
    // that decides whether dedup is worth a full pass. Components
    // resolve as in dedup_components; everything after is two
    // map-combined aggregations over component labels (cluster-count
    // sized, corpus-independent exchanges).
    "dedup_cluster_sizes" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      Dedup.connectedComponents(pairs, docs, "doc_id")
        .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"))
        .select(col("__sz").as("cluster_size"),
          col("n_clusters"), col("n_docs"))
    }),

    // per-source unique-token YIELD after near-dup resolution: which
    // sources still contribute data once the corpus is deduplicated,
    // and which are mostly mirrors of content credited elsewhere
    // (survivor = the component's min-id doc, the dedup_keep-first
    // convention — a source full of copies of OTHER sources' docs
    // yields near zero). The marginal-value table a source-budget
    // decision reads next to q_budget_waterfill's totals. Components
    // resolve as in dedup_components; everything after is one token
    // projection and one per-source aggregation.
    "q_dedup_yield" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      val comp = Dedup.connectedComponents(pairs, docs, "doc_id")
        .select(col("id").as("doc_id"), col("component"))
      docs.select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.bpeishTokenCount(col("text"))
            .cast("long").as("n_tok"))
        .join(comp, "doc_id")
        .withColumn("__sv",
          (col("doc_id") === col("component")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__sv")).as("n_unique_docs"),
          sum(col("n_tok")).as("raw_tok"),
          sum(col("n_tok") * col("__sv")).as("unique_tok"))
        .withColumn("yield_e4", expr("unique_tok * 10000 div raw_tok"))
    }),

    // the same group resolution forced onto its distributed form
    // (driverThreshold = 0: large-star/small-star contraction, the
    // path every pair graph over the driver cap takes); same
    // recursive-reachability oracle as dedup_components
    "dedup_components_stars" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      Dedup.connectedComponents(pairs, docs, "doc_id", driverThreshold = 0L)
        .select(col("id").as("doc_id"), col("component"))
    }),

    // fuzzy-dedup survivor selection: same clusters as
    // dedup_components, but each cluster keeps its
    // highest-quality copy (word count, min-id tiebreak) via the
    // bounded top-1 aggregate — the keep-best policy on top of the
    // component resolution
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          tokenCount(col("text")).cast("long").as("n_words"))
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      Dedup.keepBestPerComponent(pairs, docs, "doc_id", "n_words")
    }),

    // embedding cosine near-dup pairs (brute-force, oracle-checkable;
    // LSH variant is the scale path, see knn_lsh)
    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", minCosine = 0.42)),

    // the LSH-bucketed scale form of dedup_embedding: vectors meet
    // only via a shared (table, bucket) equi-join key — the 100 TB
    // embedding-dedup path, driver-oracled because the MD5-derived
    // hyperplanes replay as SQL literals (knn_lsh technique).
    // Plane count is DERIVED PER SCALE FACTOR (nPlanes = 0 →
    // autoPlanes at targetBucket 32): the old frozen nPlanes = 6 was
    // a known quadratic-per-bucket artifact at 10x (14.4 s vs the
    // auto path's 2.7 s) — a fixed plane count is never the
    // deployment shape. targetBucket 32 (finer buckets, higher
    // precision) vs the _auto twin's default 64, so the two entries
    // exercise distinct points of the occupancy/recall tradeoff.
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsLSH(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", minCosine = 0.42, dim = 64,
        nPlanes = 0, targetBucket = 32L)),

    // auto-parameter probe twin of dedup_embedding_lsh: nPlanes = 0
    // selects autoPlanes(n) — bucket count tracks the corpus, so the
    // scale probe measures the discipline-as-code path. Oracled like
    // the frozen form: the plane count is a pure integer function of
    // count(*), so the SQL resolves it itself (threshold CASE over
    // the same doubling ladder autoPlanes walks) and gates each
    // bucket bit on p < np — static string, any sf.
    "dedup_embedding_lsh_auto" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsLSH(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", minCosine = 0.42, dim = 64,
        nPlanes = 0)),

    // fuzzy near-dup by edit distance over normalized prefixes,
    // length-bucket banded so candidates meet via an equi-join
    "dedup_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables(s, dir, "documents"), "doc_id", "text",
        "n_chars", maxDist = 5, prefixLen = 40, lenBucket = 16)),

    // the df-capped Jaccard: hot shingles (document frequency > cap)
    // drop BEFORE the self-join — the knob that bounds the join
    // fan-out to cap^2 per shingle at corpus scale. The cap is part
    // of the operator's exact semantics, so it oracle-checks too.
    "dedup_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, minJaccard = 0.5, maxDocFreq = 40)),

    // the rewrite half of CDC dedup: drop chunks appearing in other
    // docs, reassemble survivors — text never shuffles, only hashes
    "dedup_cdc_remove" -> ((s, dir) =>
      Dedup.cdcChunkRemove(Tables(s, dir, "documents"), "doc_id", "text")),

    // DIRECTED containment (Broder): |Sa ∩ Sb| / |Sa| over the same
    // df-capped shingles — catches a doc EMBEDDED in a larger one,
    // which symmetric Jaccard's union washes out; both directions
    // emit, divided by the contained side
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, minContainment = 0.7, maxDocFreq = 40)),

    // TF-IDF-weighted cosine pairs (Bayardo all-pairs similarity with
    // DISCO-style df-cap pruning): the term-weighted complement of
    // the set-based Jaccard family — rare shared vocabulary counts
    // more than boilerplate
    "dedup_tfidf_cosine" -> ((s, dir) =>
      graft.operators.SparseSim.tfidfCosinePairs(
        Tables(s, dir, "documents"), "doc_id", "text",
        minCos = 0.6, maxDocFreq = 40)),

    // ensemble agreement: pairs flagged by BOTH the set view (capped
    // n-gram Jaccard) and the term-weight view (tf-idf cosine) — the
    // precision-first intersection a removal pass acts on when one
    // signal alone over-fires; both legs are already-bounded pair
    // frames, so the agreement join costs pairs, not corpus
    "dedup_ensemble" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, minJaccard = 0.5, maxDocFreq = 40)
      val cos = graft.operators.SparseSim.tfidfCosinePairs(
        docs, "doc_id", "text", minCos = 0.6, maxDocFreq = 40)
      jac.join(cos.select(col("id_a"), col("id_b"), col("cos")),
          Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("cos"))
    }),

    // exact duplicated-span stats (the Lee et al. exact-substring
    // dedup signal): which part of each document is a word span that
    // occurs elsewhere in the corpus — one window count on the span
    // hash, no self-join, linear however duplicated the corpus is
    "dedup_spans" -> ((s, dir) =>
      Dedup.dupSpanStats(Tables(s, dir, "documents"), "doc_id", "text",
        spanLen = 8)),

    // the rewrite half of exact-substring dedup: scrub every word
    // inside a duplicated 8-word span — same window-count shape as
    // dedup_spans plus a doc-local array filter, still no self-join
    "dedup_span_remove" -> ((s, dir) =>
      Dedup.dupSpanRemove(Tables(s, dir, "documents"), "doc_id", "text",
        spanLen = 8)),

    // collision-VERIFIED exact-substring dedup (round 15): the span
    // key is a 48-bit hash, and at 100 TB-scale span counts
    // (>> 2^24) birthday collisions fold unrelated spans together —
    // on the remove path that scrubs innocent text. Hash-matched
    // candidate spans join back to their actual word slices and
    // occurrence is recounted on the span TEXT, making the Lee et
    // al. signal exact; the extra join is bounded to candidates
    // only, so the no-self-join linear scale shape is unchanged
    "dedup_spans_verified" -> ((s, dir) =>
      Dedup.dupSpanStatsVerified(Tables(s, dir, "documents"), "doc_id",
        "text", spanLen = 8)),

    "dedup_span_remove_verified" -> ((s, dir) =>
      Dedup.dupSpanRemoveVerified(Tables(s, dir, "documents"), "doc_id",
        "text", spanLen = 8)),

    // sentence-granularity duplication stats: what fraction of each
    // document's sentences also appear in another document — the
    // C4-style boilerplate signal at natural boundaries (dedup_spans
    // is the fixed-length token-run form); window count on the
    // sentence hash, no self-join
    "dedup_segments" -> ((s, dir) =>
      Dedup.segmentDupStats(Tables(s, dir, "documents"), "doc_id", "text")),

    // content-defined chunking (LBFS/FastCDC storage dedup on text):
    // boundaries where the 16-gram's md5 ends in hex '0', so edits
    // only re-chunk their neighborhood; same no-self-join tail as
    // dedup_segments
    "dedup_cdc" -> ((s, dir) =>
      Dedup.cdcChunkStats(Tables(s, dir, "documents"), "doc_id", "text")),

    // the production CDC kernel: Gear rolling hash (one table lookup
    // + shift + add per character, codegen'd Catalyst expression)
    // instead of one md5 per character position — same stats tail,
    // same chunk hashing, content-defined boundaries of its own
    "dedup_cdc_gear" -> ((s, dir) =>
      Dedup.cdcChunkStatsGear(Tables(s, dir, "documents"), "doc_id", "text")),

    // the rewrite half over the Gear boundary rule — the production
    // twin of dedup_cdc_remove
    "dedup_cdc_gear_remove" -> ((s, dir) =>
      Dedup.cdcChunkRemoveGear(Tables(s, dir, "documents"), "doc_id", "text")),

    // leakage-safe train/val/test split: near-dup COMPONENTS (winnow
    // pair graph, as dedup_components) are assigned to splits whole
    // via the md5 bucket of the component label — no duplicated
    // document can straddle train and test. 80/10/10 buckets.
    "q_split_leakage" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, window = 4, minJaccard = 0.3)
      graft.operators.Sampling.leakageSafeSplit(pairs, docs, "doc_id")
    })
  )

  // ---- oracle SQL (generated to stay in lockstep with K/BANDS) ----

  private val shingleCte =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, len(w) - 2),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |       FROM w WHERE len(w) >= 3)""".stripMargin

  /** Full-corpus minhash pair replay, optionally restricted by an
    * extra predicate over (id_a, id_b) — the incremental query is by
    * construction the full pair set filtered to batch-touching
    * pairs. */
  // the MinHash sketch SQL pieces, shared by every oracle that
  // replays the sketch (minhash, incremental, PR eval) — ONE
  // generator per piece so the K/BANDS lockstep can't fork
  private[queries] def minhashSigCols: String =
    (0 until K).map(i => s"min(md5('$i|' || s)) AS h$i").mkString(", ")
  private[queries] def minhashBandExprs: String = {
    val r = K / BANDS
    (0 until BANDS).map { b =>
      val hs = (b * r until (b + 1) * r).map(i => s"h$i").mkString(" || '#' || ")
      s"md5('$b' || '#' || $hs)"
    }.mkString(", ")
  }
  private def minhashMatchSum: String =
    (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")

  private def minhashOracleWhere(extra: String): String = {
    val sigCols = minhashSigCols
    val bandExprs = minhashBandExprs
    val matchSum = minhashMatchSum
    s"""WITH $shingleCte,
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS band_key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  round(($matchSum) / $K.0, 4) AS est_jaccard
       |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
       |WHERE round(($matchSum) / $K.0, 4) >= 0.5$extra""".stripMargin
  }

  private val minhashOracle: String = minhashOracleWhere("")

  private val incrementalOracle: String =
    minhashOracleWhere(" AND (id_a % 10 = 7 OR id_b % 10 = 7)")

  // dedup_pr_eval: both pair legs (exact Jaccard, MinHash estimate)
  // rebuilt in one WITH over the shared shingle CTE, then pair-set
  // precision/recall with truncating integer division (NULL on an
  // empty leg — same contract as the guarded Spark side)
  /** 32-bit md5 value of a string column — replicate-membership /
    * sampling bits (the [[graft.operators.Bootstrap]] discipline). */
  private def md5Bits(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private val CiB = 32

  /** One CI leg: rows carrying (__hit in {0,1}, __bits) fold to a
    * single row (n, tp, se) in ONE map-combined aggregation — per
    * replicate i the ratio sum(hit where bit i)/count(bit i), se =
    * the replicate ratios' spread (half-sample standard error, same
    * fold as Bootstrap.halfSampleCI specialized to a proportion). */
  private def ciLeg(rows: DataFrame, prefix: String): DataFrame = {
    def inRep(i: Int) = col("__bits").bitwiseAND(lit(1L << i)) =!= 0
    val repC = (0 until CiB).map(i =>
      sum(when(inRep(i), 1L).otherwise(0L)).as(s"__c$i"))
    val repH = (0 until CiB).map(i =>
      sum(when(inRep(i), col("__hit")).otherwise(lit(0L))).as(s"__h$i"))
    val agg = rows.agg(count(lit(1)).as("n"),
      (Seq(coalesce(sum(col("__hit")), lit(0L)).as("tp")) ++ repC ++ repH): _*)
    val ratios = array((0 until CiB).map(i =>
      when(col(s"__c$i") > 0, col(s"__h$i").cast("double") / col(s"__c$i"))): _*)
    agg
      .withColumn("__m", filter(ratios, m => m.isNotNull))
      .withColumn("__k", size(col("__m")).cast("double"))
      .withColumn("__mbar", when(col("__k") > 0,
        aggregate(col("__m"), lit(0.0), (a, x) => a + x) / col("__k")))
      .withColumn("__se", when(col("__k") > 1, sqrt(
        aggregate(col("__m"), lit(0.0),
          (a, x) => a + (x - col("__mbar")) * (x - col("__mbar"))) /
          (col("__k") - 1))).otherwise(lit(0.0)))
      .select(col("n").as(s"${prefix}_n"), col("tp").as(s"${prefix}_tp"),
        col("__se").as(s"${prefix}_se"))
  }

  /** The sampled sketch-quality eval behind `dedup_pr_eval` — see
    * the queries-map comment for the design. Single summary row. */
  private[graft] def prEvalSampled(docs: DataFrame): DataFrame = {
    import graft.operators.IntMath.scaledDivTrunc
    val approx = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = K, bands = BANDS, minEstimate = 0.5)
      .select(col("id_a"), col("id_b"))
    // precision census: exact Jaccard for every sketch pair
    val prec = Dedup.exactJaccardFor(approx, docs, "doc_id", "text",
        shingleLen = 3)
      .withColumn("__hit", (col("jaccard") >= 0.5).cast("long"))
      .withColumn("__bits", md5Bits(concat(lit("r:"),
        col("id_a").cast("string"), lit(":"), col("id_b").cast("string"))))
    // recall vs the md5 1/4-sampled exact ground truth; replicate
    // bits key on the SAMPLED endpoint (cluster-aware half-samples)
    val truth = Dedup.ngramJaccardPairsSampled(docs, "doc_id", "text",
        shingleLen = 3, minJaccard = 0.5, sampleMod = 4)
      .select(col("id_a"), col("id_b"))
      .join(approx.withColumn("__f", lit(1L)), Seq("id_a", "id_b"), "left")
      .withColumn("__hit", coalesce(col("__f"), lit(0L)))
      .withColumn("__bits", md5Bits(concat(lit("r:"),
        col("id_a").cast("string"))))
    ciLeg(prec, "ap").crossJoin(broadcast(ciLeg(truth, "tr")))
      .select(
        col("ap_n").as("n_approx"), col("ap_tp").as("tp"),
        when(col("ap_n") > 0,
          scaledDivTrunc(col("ap_tp"), 10000L, col("ap_n")))
          .as("precision_e4"),
        when(col("ap_n") > 0, round(col("ap_tp").cast("double") / col("ap_n")
          - lit(1.96) * col("ap_se"), 4)).as("prec_lo95"),
        when(col("ap_n") > 0, round(col("ap_tp").cast("double") / col("ap_n")
          + lit(1.96) * col("ap_se"), 4)).as("prec_hi95"),
        col("tr_n").as("n_truth_sample"), col("tr_tp").as("tp_sample"),
        when(col("tr_n") > 0,
          scaledDivTrunc(col("tr_tp"), 10000L, col("tr_n")))
          .as("recall_e4"),
        when(col("tr_n") > 0, round(col("tr_tp").cast("double") / col("tr_n")
          - lit(1.96) * col("tr_se"), 4)).as("rec_lo95"),
        when(col("tr_n") > 0, round(col("tr_tp").cast("double") / col("tr_n")
          + lit(1.96) * col("tr_se"), 4)).as("rec_hi95"))
  }

  /** The FULL-exact eval (every true pair counted — the original
    * dedup_pr_eval form): all-pairs-shaped via the shared-shingle
    * join, so it stays an sf0.001-scale equivalence contract
    * (PrEvalSpec pins sampled-vs-exact agreement within the CI),
    * never a benched path. */
  private[graft] def prEvalExact(docs: DataFrame): DataFrame = {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, minJaccard = 0.5).select(col("id_a"), col("id_b"))
    val approx = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = K, bands = BANDS, minEstimate = 0.5)
      .select(col("id_a"), col("id_b"))
    val exAgg = exact.agg(count(lit(1)).as("n_exact"))
    approx.join(exact.withColumn("__hit", lit(1L)),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_approx"),
        coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("tp"))
      .crossJoin(broadcast(exAgg))
      .select(col("n_exact"), col("n_approx"), col("tp"),
        when(col("n_approx") > 0, graft.operators.IntMath
          .scaledDivTrunc(col("tp"), 10000L, col("n_approx")))
          .as("precision_e4"),
        when(col("n_exact") > 0, graft.operators.IntMath
          .scaledDivTrunc(col("tp"), 10000L, col("n_exact")))
          .as("recall_e4"))
  }

  // dedup_pr_eval replay: both legs rebuilt over the shared shingle
  // CTE — the precision census (exact Jaccard per sketch pair) and
  // the md5 1/4-sampled exact ground truth — then per-leg
  // 32-replicate half-sample CI via the q_bootstrap_ci list-fold
  // pattern (bit-membership sums, replicate ratios, spread)
  private val prEvalOracle: String = {
    val sigCols = minhashSigCols
    val bandExprs = minhashBandExprs
    val matchSum = minhashMatchSum
    val b = CiB
    val sums = (0 until b).map { i =>
      s"sum(CASE WHEN (bits >> $i) & 1 = 1 THEN 1 ELSE 0 END) AS c$i, " +
        s"sum(CASE WHEN (bits >> $i) & 1 = 1 THEN hit ELSE 0 END) AS h$i"
    }.mkString(",\n        ")
    val ratioList = (0 until b).map(i =>
      s"CASE WHEN c$i > 0 THEN h$i * 1.0 / c$i END").mkString("[", ", ", "]")
    def ciChain(src: String, p: String) =
      s"""${p}a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(coalesce(sum(hit), 0) AS BIGINT) AS tp,
         |        $sums
         |      FROM $src),
         |${p}f AS (SELECT n, tp,
         |        list_filter($ratioList, x -> x IS NOT NULL) AS ms
         |      FROM ${p}a),
         |${p}s AS (SELECT n, tp, ms, CAST(len(ms) AS DOUBLE) AS kk,
         |        CASE WHEN len(ms) > 0
         |          THEN list_sum(ms) / CAST(len(ms) AS DOUBLE) END AS mbar
         |      FROM ${p}f),
         |${p}e AS (SELECT n, tp,
         |        CASE WHEN kk > 1 THEN sqrt(list_sum(list_transform(ms,
         |          x -> (x - mbar) * (x - mbar))) / (kk - 1))
         |          ELSE 0.0 END AS se
         |      FROM ${p}s)""".stripMargin
    s"""WITH $shingleCte,
       |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS band_key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |ap AS (SELECT id_a, id_b
       |       FROM cand JOIN sig sa ON sa.doc_id = id_a
       |         JOIN sig sb ON sb.doc_id = id_b
       |       WHERE round(($matchSum) / $K.0, 4) >= 0.5),
       |api AS (SELECT p.id_a, p.id_b, count(*) AS inter
       |        FROM ap p JOIN sh a ON a.doc_id = p.id_a
       |          JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
       |        GROUP BY 1, 2),
       |apl AS (SELECT p.id_a, p.id_b,
       |          CASE WHEN round(coalesce(i.inter, 0) * 1.0 /
       |            (na.c + nb.c - coalesce(i.inter, 0)), 4) >= 0.5
       |            THEN 1 ELSE 0 END AS hit,
       |          CAST('0x' || substring(md5('r:' || CAST(p.id_a AS VARCHAR)
       |            || ':' || CAST(p.id_b AS VARCHAR)), 1, 8) AS BIGINT) AS bits
       |        FROM ap p
       |          LEFT JOIN api i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |          JOIN n na ON na.doc_id = p.id_a
       |          JOIN n nb ON nb.doc_id = p.id_b),
       |pps AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |        WHERE CAST('0x' || substring(md5(CAST(a.doc_id AS VARCHAR)),
       |            1, 8) AS BIGINT) % 4 = 0
       |        GROUP BY 1, 2),
       |exs AS (SELECT id_a, id_b FROM pps
       |          JOIN n na ON na.doc_id = id_a
       |          JOIN n nb ON nb.doc_id = id_b
       |        WHERE round(inter * 1.0 / (na.c + nb.c - inter), 4) >= 0.5),
       |trl AS (SELECT e.id_a, e.id_b,
       |          CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit,
       |          CAST('0x' || substring(md5('r:' || CAST(e.id_a AS VARCHAR)),
       |            1, 8) AS BIGINT) AS bits
       |        FROM exs e
       |          LEFT JOIN ap p ON p.id_a = e.id_a AND p.id_b = e.id_b),
       |${ciChain("apl", "p")},
       |${ciChain("trl", "r")}
       |SELECT pe.n AS n_approx, pe.tp AS tp,
       |  CAST(CASE WHEN pe.n > 0 THEN (pe.tp * 10000) // pe.n END
       |    AS BIGINT) AS precision_e4,
       |  CASE WHEN pe.n > 0
       |    THEN round(pe.tp * 1.0 / pe.n - 1.96 * pe.se, 4) END AS prec_lo95,
       |  CASE WHEN pe.n > 0
       |    THEN round(pe.tp * 1.0 / pe.n + 1.96 * pe.se, 4) END AS prec_hi95,
       |  re.n AS n_truth_sample, re.tp AS tp_sample,
       |  CAST(CASE WHEN re.n > 0 THEN (re.tp * 10000) // re.n END
       |    AS BIGINT) AS recall_e4,
       |  CASE WHEN re.n > 0
       |    THEN round(re.tp * 1.0 / re.n - 1.96 * re.se, 4) END AS rec_lo95,
       |  CASE WHEN re.n > 0
       |    THEN round(re.tp * 1.0 / re.n + 1.96 * re.se, 4) END AS rec_hi95
       |FROM pe CROSS JOIN re""".stripMargin
  }

  // dedup_sketch_calibration replay: the banded candidate set WITHOUT
  // an estimate threshold, each pair's estimate + exact Jaccard over
  // the shared shingle CTE, all-integer e4 bucket aggregates
  private val sketchCalibrationOracle: String = {
    val sigCols = minhashSigCols
    val bandExprs = minhashBandExprs
    val matchSum = minhashMatchSum
    s"""WITH $shingleCte,
       |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS band_key FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |est AS (SELECT id_a, id_b, round(($matchSum) / $K.0, 4) AS est
       |        FROM cand JOIN sig sa ON sa.doc_id = id_a
       |          JOIN sig sb ON sb.doc_id = id_b),
       |api AS (SELECT c.id_a, c.id_b, count(*) AS inter
       |        FROM cand c JOIN sh a ON a.doc_id = c.id_a
       |          JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |        GROUP BY 1, 2),
       |j AS (SELECT e.id_a, e.id_b, e.est,
       |        round(coalesce(i.inter, 0) * 1.0 /
       |          (na.c + nb.c - coalesce(i.inter, 0)), 4) AS ex
       |      FROM est e
       |        LEFT JOIN api i ON i.id_a = e.id_a AND i.id_b = e.id_b
       |        JOIN n na ON na.doc_id = e.id_a
       |        JOIN n nb ON nb.doc_id = e.id_b)
       |SELECT LEAST(CAST(floor(est * 5) AS BIGINT), 4) AS bucket,
       |  count(*) AS n_pairs,
       |  CAST(sum(CAST(floor(est * 10000) AS BIGINT)) // count(*)
       |    AS BIGINT) AS mean_est_e4,
       |  CAST(sum(CAST(floor(ex * 10000) AS BIGINT)) // count(*)
       |    AS BIGINT) AS mean_exact_e4,
       |  CAST(sum(CASE WHEN ex >= 0.5 THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS hit_rate_e4
       |FROM j GROUP BY 1""".stripMargin
  }

  private val simhashOracle: String = {
    val votes = (0 until 16).map { j =>
      val pos = j / 4 + 1
      val div = 1 << (3 - j % 4)
      s"sum(2 * (((strpos('0123456789abcdef', substr(md5(w), $pos, 1)) - 1) // $div) % 2) - 1) AS v$j"
    }.mkString(",\n    ")
    val combine = (0 until 16)
      .map(j => s"(CASE WHEN v$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH wd AS (SELECT DISTINCT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |v AS (SELECT doc_id,
       |    $votes
       |  FROM wd GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM v""".stripMargin
  }

  private val jaccardOracle: String =
    s"""WITH $shingleCte,
       |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (na.c + nb.c - inter), 4) AS jaccard
       |FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
       |WHERE round(inter * 1.0 / (na.c + nb.c - inter), 4) >= 0.5""".stripMargin

  // ---- dedup_embedding_lsh(_auto) oracles: same inlined-hyperplane
  // replay as VectorQueries.lshOracle — sign-bit buckets per table
  // from MD5 plane constants, candidates meet on (t, b), exact
  // cosine verifies. BOTH entries now run the per-scale-factor auto
  // path (the frozen nPlanes = 6 artifact is retired), so both
  // oracles resolve the plane count in SQL from count(*) — only the
  // target bucket occupancy differs (32 vs 64).
  private val LSH_DIM = 64
  private val LSH_TABLES = 4

  // dedup_embedding_lsh_auto oracle: same inlined-plane replay, but
  // the plane count is resolved IN SQL from count(*) — `np` walks the
  // identical doubling ladder as Similarity.autoPlanes (exact integer
  // thresholds, no float log), and every bucket bit p is gated on
  // np >= p+1 so coarser corpora use fewer bits. Planes are inlined
  // up to LSH_AUTO_MAXP (covers 64 * 2^16 = 4.2 M rows — far past any
  // sf the oracle gate runs at; the Spark operator itself is uncapped).
  private val LSH_AUTO_MAXP = 16

  private def embeddingLshAutoOracle(targetBucket: Long,
                                     lo: Double = 0.42,
                                     hi: Option[Double] = None): String = {
    def dot(t: Int, p: Int): String =
      (0 until LSH_DIM).map { d =>
        s"coalesce(v[${d + 1}], 0) * ${Similarity.planeComponent(100 * t + p, d)}"
      }.mkString("(", " + ", ")")
    def bucket(t: Int): String =
      (0 until LSH_AUTO_MAXP).map { p =>
        s"(CASE WHEN np >= ${p + 1} AND ${dot(t, p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val npCase = (1 until LSH_AUTO_MAXP).map { p =>
      s"WHEN cnt <= ${targetBucket << p} THEN $p"
    }.mkString("CASE ", " ", s" ELSE $LSH_AUTO_MAXP END")
    val buckets = (0 until LSH_TABLES).map { t =>
      s"SELECT vec_id, $t AS t, ${bucket(t)} AS b FROM e CROSS JOIN np"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |np AS (SELECT $npCase AS np FROM (SELECT count(*) AS cnt FROM embeddings)),
       |bk AS (
       |$buckets),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |         FROM bk a JOIN bk c ON a.t = c.t AND a.b = c.b
       |           AND a.vec_id < c.vec_id),
       |s AS (SELECT cand.id_a, cand.id_b,
       |        round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
       |      FROM cand JOIN e ea ON ea.vec_id = cand.id_a
       |                JOIN e eb ON eb.vec_id = cand.id_b)
       |${hi match {
        // band form (pair mining): both bounds on the ROUND-6 sim,
        // id pairs only — a round-4 output value would sit on .xxxx5
        // halves where engine rounding modes disagree
        case Some(h) => s"SELECT id_a, id_b FROM s WHERE sim >= $lo AND sim < $h"
        case None => s"SELECT id_a, id_b, round(sim, 4) AS sim FROM s WHERE sim >= $lo"
      }}""".stripMargin
  }

  private val embeddingOracle: String =
    """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(round(list_cosine_similarity(a.e, b.e), 6), 4) AS sim
      |FROM q a JOIN q b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.42""".stripMargin

  // CTE list shared by the winnow pair oracle, the components oracle
  // (which closes over the same pair graph recursively), and the
  // composed curation pipeline (which runs it over the quality-kept
  // subset). `wordsSrc` must yield (doc_id, wl).
  private[queries] def winnowPairCtes(wordsSrc: String): String =
    s"""shl AS (SELECT doc_id,
      |          CASE WHEN len(wl) >= 3 THEN
      |            list_transform(range(1, len(wl) - 1),
      |              i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])
      |          ELSE CAST([] AS VARCHAR[]) END AS s
      |        FROM $wordsSrc),
      |hs AS (SELECT doc_id,
      |         list_transform(s, x ->
      |           CAST('0x' || substring(md5(x), 1, 12) AS BIGINT)) AS h
      |       FROM shl),
      |mins AS (SELECT DISTINCT doc_id, unnest(
      |           CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
      |                ELSE list_transform(range(1, greatest(len(h) - 4, 0) + 2),
      |                       p -> list_min(h[p:p+3]))
      |           END) AS m
      |         FROM hs),
      |n AS (SELECT doc_id, count(*) AS c FROM mins GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |      FROM mins a JOIN mins b ON a.m = b.m AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |wpairs AS (SELECT id_a, id_b
      |      FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
      |      WHERE round(inter * 1.0 / (na.c + nb.c - inter), 4) >= 0.3)""".stripMargin

  private val winnowCtes: String =
    """w AS (SELECT doc_id,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS wl
      |           FROM documents),
      |""".stripMargin + winnowPairCtes("w")

  private val winnowOracle: String =
    s"""WITH $winnowCtes
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (na.c + nb.c - inter), 4) AS jaccard
       |FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
       |WHERE round(inter * 1.0 / (na.c + nb.c - inter), 4) >= 0.3""".stripMargin

  /** q_lsh_power configs: three ways to spend a 128-hash sketch
    * budget (bands x rows = 128). More rows per band -> steeper
    * S-curve (fewer false candidates, lower recall at low j);
    * 20^r must stay a long, so r <= 14. */
  private val LSH_CONFIGS = Seq((32, 4), (16, 8), (64, 2))

  // q_lsh_power replay: identical unrolled arithmetic — exact k^r /
  // 20^r integer ratio, ONE IEEE division, left-associated repeated
  // multiplication for ^b (no pow(), whose rounding is not pinned
  // across libm implementations), micro-unit floor
  private def lshPowerOracle: String = {
    val legs = LSH_CONFIGS.map { case (b, r) =>
      val den = math.pow(20, r).toLong
      val kr = (1 until r).foldLeft("CAST(k AS BIGINT)")(
        (acc, _) => s"($acc * k)")
      val x = s"(CAST($den - $kr AS DOUBLE) / CAST($den AS DOUBLE))"
      val xb = (1 until b).foldLeft(x)((acc, _) => s"($acc * $x)")
      s"""SELECT CAST($b AS INTEGER) AS bands,
         |  CAST($r AS INTEGER) AS rows_per_band,
         |  CAST(k * 5 AS INTEGER) AS j_e2,
         |  CAST(floor(1000000.0 * (1.0 - $xb)) AS BIGINT)
         |    AS p_collision_e6
         |FROM grid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH grid AS (SELECT CAST(unnest(range(1, 20)) AS INTEGER) AS k)
       |$legs""".stripMargin
  }

  // reachability closure over the winnow pair graph; component =
  // smallest reachable id (including self, so isolated docs keep
  // their own id)
  private val componentsOracle: String =
    s"""WITH RECURSIVE $winnowCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM wpairs
       |        UNION SELECT id_b, id_a FROM wpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
       |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
       |FROM reach GROUP BY a""".stripMargin

  // cluster-size histogram over the same component labels
  private val clusterSizesOracle: String =
    s"""WITH RECURSIVE $winnowCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM wpairs
       |        UNION SELECT id_b, id_a FROM wpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS doc_id, min(b) AS component
       |         FROM reach GROUP BY a),
       |sz AS (SELECT component, count(*) AS s FROM comp GROUP BY 1)
       |SELECT CAST(s AS BIGINT) AS cluster_size,
       |  count(*) AS n_clusters, CAST(sum(s) AS BIGINT) AS n_docs
       |FROM sz GROUP BY s""".stripMargin

  // q_dedup_yield replay: component labels as in componentsOracle,
  // then survivor = (doc_id == component) and one per-source
  // aggregation over the bpe-ish token counts (the q_shard TOK
  // regex)
  private val dedupYieldOracle: String =
    s"""WITH RECURSIVE $winnowCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM wpairs
       |        UNION SELECT id_b, id_a FROM wpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS doc_id, min(b) AS component
       |         FROM reach GROUP BY a),
       |tk AS (SELECT doc_id, source,
       |         CAST(len(regexp_extract_all(text,
       |           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tok
       |       FROM documents),
       |j AS (SELECT tk.source, tk.n_tok,
       |        CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END AS sv
       |      FROM tk JOIN comp c ON c.doc_id = tk.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(sv) AS BIGINT) AS n_unique_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS raw_tok,
       |  CAST(sum(n_tok * sv) AS BIGINT) AS unique_tok,
       |  CAST(sum(n_tok * sv) * 10000 // sum(n_tok) AS BIGINT) AS yield_e4
       |FROM j GROUP BY 1""".stripMargin

  // q_split_leakage replay: component labels as in componentsOracle,
  // then the split is the width-6 md5 bucket of the label string —
  // Spark conv(substring(md5)) == DuckDB CAST('0x'||substring(md5))
  private val splitLeakageOracle: String =
    s"""WITH RECURSIVE $winnowCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM wpairs
       |        UNION SELECT id_b, id_a FROM wpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
       |         FROM reach GROUP BY a),
       |bkt AS (SELECT doc_id, component,
       |          CAST('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 6)
       |            AS BIGINT) % 10 AS b
       |        FROM comp)
       |SELECT doc_id, component,
       |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END
       |    AS split
       |FROM bkt""".stripMargin

  // dedup_keep_best replay: component labels as in componentsOracle,
  // then the per-cluster argmax by (n_words desc, doc_id asc)
  private val keepBestOracle: String =
    s"""WITH RECURSIVE $winnowCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM wpairs
       |        UNION SELECT id_b, id_a FROM wpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       |nwt AS (SELECT doc_id,
       |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |          AS n_words
       |      FROM documents)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(component AS BIGINT) AS component, n_words
       |FROM (SELECT c.doc_id, c.component, nwt.n_words,
       |        row_number() OVER (PARTITION BY c.component
       |          ORDER BY nwt.n_words DESC, c.doc_id ASC) AS rn
       |      FROM comp c JOIN nwt ON nwt.doc_id = c.doc_id) t
       |WHERE rn = 1""".stripMargin

  private val cappedJaccardOracle: String =
    s"""WITH $shingleCte,
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 40),
       |c AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
       |n AS (SELECT doc_id, count(*) AS c FROM c GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM c a JOIN c b ON a.s = b.s AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / (na.c + nb.c - inter), 4) AS jaccard
       |FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
       |WHERE round(inter * 1.0 / (na.c + nb.c - inter), 4) >= 0.5""".stripMargin

  // dedup_containment replay: same df-capped shingles, directed
  // pairs (both orders from the symmetric shingle join), divided by
  // the contained side's set size
  private val containmentOracle: String =
    s"""WITH $shingleCte,
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 40),
       |c AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
       |n AS (SELECT doc_id, count(*) AS c FROM c GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM c a JOIN c b ON a.s = b.s AND a.doc_id <> b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(inter * 1.0 / na.c, 4) AS containment
       |FROM p JOIN n na ON na.doc_id = id_a
       |WHERE round(inter * 1.0 / na.c, 4) >= 0.7""".stripMargin

  // the length-bucket banding is pruning-only (lenBucket > maxDist
  // guarantees every qualifying pair is witnessed), so the oracle
  // states just the observable predicate
  private val editdistOracle: String =
    """WITH d AS (SELECT doc_id, substr(trim(lower(text)), 1, 40) AS p, n_chars
      |           FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
      |FROM d a JOIN d b
      |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 5
      |WHERE levenshtein(a.p, b.p) <= 5""".stripMargin

  // dedup_spans replay: same 48-bit span hashes, occurrence as a
  // window count, per-doc stats, total annotation via left join
  private val dupSpansOracle =
    """WITH w AS (SELECT doc_id,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS wl
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(wl) >= 8 THEN
      |           list_transform(range(1, len(wl) - 6),
      |             i -> array_to_string(wl[i:i+7], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |       FROM w),
      |pos AS (SELECT doc_id,
      |          unnest(list_transform(s, x ->
      |            CAST('0x' || substring(md5(x), 1, 12) AS BIGINT))) AS h
      |        FROM sh),
      |occ AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS occ FROM pos),
      |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |         CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_dup_spans
      |       FROM occ GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(st.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(CASE WHEN coalesce(st.n_spans, 0) = 0 THEN 0
      |       ELSE floor(CAST(st.n_dup_spans AS DOUBLE) / st.n_spans * 10000)
      |       END AS BIGINT) AS dup_frac_e4
      |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin

  // dedup_spans_verified replay: hash-occurrence window names the
  // candidates, then occurrence is recounted on the span TEXT
  // itself (partition by sp) — the verification join restated as a
  // second window; n_spans needs no explode (greatest(words-7, 0))
  private val dupSpansVerifiedOracle =
    """WITH w AS (SELECT doc_id,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS wl
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(wl) >= 8 THEN
      |           list_transform(range(1, len(wl) - 6),
      |             i -> array_to_string(wl[i:i+7], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |       FROM w),
      |pos AS (SELECT doc_id,
      |          unnest(list_transform(range(1, len(s) + 1), i ->
      |            {'p': i, 'sp': s[i]}), recursive := true)
      |        FROM sh),
      |ho AS (SELECT doc_id, p, sp,
      |         count(*) OVER (PARTITION BY
      |           CAST('0x' || substring(md5(sp), 1, 12) AS BIGINT)) AS occ
      |       FROM pos),
      |ver AS (SELECT doc_id, p,
      |          count(*) OVER (PARTITION BY sp) AS vocc
      |        FROM ho WHERE occ > 1),
      |ns AS (SELECT doc_id,
      |         CAST(greatest(len(wl) - 7, 0) AS BIGINT) AS n_spans FROM w),
      |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
      |       FROM ver WHERE vocc > 1 GROUP BY 1)
      |SELECT ns.doc_id, ns.n_spans,
      |  CAST(coalesce(nd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(CASE WHEN ns.n_spans = 0 THEN 0
      |       ELSE floor(CAST(coalesce(nd.n_dup_spans, 0) AS DOUBLE)
      |                  / ns.n_spans * 10000)
      |       END AS BIGINT) AS dup_frac_e4
      |FROM ns LEFT JOIN nd USING (doc_id)""".stripMargin

  // dedup_span_remove_verified replay: the verified starts (vocc > 1
  // on the span text) drive the same in-doc list-filter rewrite as
  // the unverified remove oracle
  private val dupSpanRemoveVerifiedOracle =
    """WITH w AS (SELECT doc_id,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS wl
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(wl) >= 8 THEN
      |           list_transform(range(1, len(wl) - 6),
      |             i -> array_to_string(wl[i:i+7], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |       FROM w),
      |pos AS (SELECT doc_id,
      |          unnest(list_transform(range(1, len(s) + 1), i ->
      |            {'p': i, 'sp': s[i]}), recursive := true)
      |        FROM sh),
      |ho AS (SELECT doc_id, p, sp,
      |         count(*) OVER (PARTITION BY
      |           CAST('0x' || substring(md5(sp), 1, 12) AS BIGINT)) AS occ
      |       FROM pos),
      |ver AS (SELECT doc_id, p,
      |          count(*) OVER (PARTITION BY sp) AS vocc
      |        FROM ho WHERE occ > 1),
      |st AS (SELECT doc_id, list(p ORDER BY p) AS starts
      |       FROM ver WHERE vocc > 1 GROUP BY 1),
      |k AS (SELECT w.doc_id, w.wl,
      |        list_filter(w.wl, (wd, i) ->
      |          len(list_filter(coalesce(st.starts, CAST([] AS BIGINT[])),
      |                p -> p <= i AND i < p + 8)) = 0) AS kept
      |      FROM w LEFT JOIN st USING (doc_id))
      |SELECT doc_id,
      |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
      |  CAST(len(wl) AS BIGINT) AS n_words,
      |  CAST(len(kept) AS BIGINT) AS n_kept
      |FROM k""".stripMargin

  // dedup_span_remove replay: same span hashes and occurrence window
  // as dedup_spans, duplicated span STARTS per doc, then the in-doc
  // rewrite as a list filter. Indexing is 1-based on both sides of
  // the covered test (DuckDB list lambdas/range) vs 0-based in Spark
  // (posexplode/filter) — the [p, p+8) form is base-invariant.
  private val dupSpanRemoveOracle =
    """WITH w AS (SELECT doc_id,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS wl
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(wl) >= 8 THEN
      |           list_transform(range(1, len(wl) - 6),
      |             i -> array_to_string(wl[i:i+7], ' '))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |       FROM w),
      |pos AS (SELECT doc_id,
      |          unnest(list_transform(range(1, len(s) + 1), i ->
      |            {'p': i,
      |             'h': CAST('0x' || substring(md5(s[i]), 1, 12) AS BIGINT)}),
      |            recursive := true)
      |        FROM sh),
      |occ AS (SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS occ
      |        FROM pos),
      |st AS (SELECT doc_id, list(p ORDER BY p) AS starts
      |       FROM occ WHERE occ > 1 GROUP BY 1),
      |k AS (SELECT w.doc_id, w.wl,
      |        list_filter(w.wl, (wd, i) ->
      |          len(list_filter(coalesce(st.starts, CAST([] AS BIGINT[])),
      |                p -> p <= i AND i < p + 8)) = 0) AS kept
      |      FROM w LEFT JOIN st USING (doc_id))
      |SELECT doc_id,
      |  -- array_to_string([]) is NULL in DuckDB; Spark concat_ws is ''
      |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
      |  CAST(len(wl) AS BIGINT) AS n_words,
      |  CAST(len(kept) AS BIGINT) AS n_kept
      |FROM k""".stripMargin

  // dedup_segments replay: same sentence split / trim / lower / md5,
  // document frequency over distinct (doc, hash), total annotation
  private val segmentsOracle =
    """WITH segs AS (
      |  SELECT DISTINCT doc_id, md5(s) AS h FROM (
      |    SELECT doc_id,
      |      trim(lower(unnest(regexp_split_to_array(text, '\. ')))) AS s
      |    FROM documents)
      |  WHERE length(s) >= 10),
      |occ AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS dfc FROM segs),
      |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
      |         CAST(sum(CASE WHEN dfc > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_dup_segs
      |       FROM occ GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(st.n_segs, 0) AS BIGINT) AS n_segs,
      |  CAST(coalesce(st.n_dup_segs, 0) AS BIGINT) AS n_dup_segs,
      |  CAST(CASE WHEN coalesce(st.n_segs, 0) = 0 THEN 0
      |       ELSE floor(CAST(st.n_dup_segs AS DOUBLE) / st.n_segs * 10000)
      |       END AS BIGINT) AS dup_frac_e4
      |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin

  // The two CDC boundary contracts as DuckDB CTEs producing
  // (doc_id, t, b2): the md5-per-position gram rule, and the Gear
  // rolling-hash rule replayed in its WINDOWED low-bits form — the
  // shift recurrence makes h_i's low maskBits bits a function of
  // exactly the last maskBits code points (carries only propagate
  // upward), so the oracle needs no 64-bit rolling state: a
  // 256-entry table of GEAR & (2^b - 1) literals (inlined, the
  // knn_lsh plane-constant technique) and a b-term shifted sum per
  // position. GearCdcSpec pins rolling == windowed.
  private val cdcMd5Ctes: String =
    """d0 AS (SELECT doc_id, text AS t, length(text) AS n
      |            FROM documents WHERE length(text) >= 1),
      |b AS (SELECT doc_id, t,
      |        list_append(list_filter(range(16, n),
      |          i -> substr(md5(substr(t, i - 15, 16)), 32, 1) IN ('0')),
      |          n) AS b2
      |      FROM d0)""".stripMargin

  private def cdcGearCtes(minPos: Int, maskBits: Int): String = {
    val mod = 1L << maskBits
    val terms = (0 until maskBits).map { j =>
      val idx = if (j == 0) "i" else s"i - $j"
      s"${1L << j} * g[(ord(t[$idx]) % 256) + 1]"
    }.mkString(" + ")
    s"""gt AS (SELECT ${graft.plans.GearCdc.lowBitsSqlList(maskBits)} AS g),
       |d0 AS (SELECT doc_id, text AS t, length(text) AS n
       |            FROM documents WHERE length(text) >= 1),
       |b AS (SELECT doc_id, t,
       |        list_append(list_filter(range($minPos, n),
       |          i -> ($terms) % $mod = 0),
       |          n) AS b2
       |      FROM d0 CROSS JOIN gt)""".stripMargin
  }

  // dedup_cdc / dedup_cdc_gear replay: boundary CTEs above, then the
  // shared index-lambda chunk slicing and the dedup_segments tail
  private def cdcStatsOracleFrom(boundaryCtes: String): String =
    s"""WITH $boundaryCtes,
      |c AS (SELECT doc_id, list_transform(range(1, len(b2) + 1), j ->
      |        md5(substr(t,
      |          CASE WHEN j = 1 THEN 1 ELSE b2[j - 1] + 1 END,
      |          b2[j] - CASE WHEN j = 1 THEN 0 ELSE b2[j - 1] END))) AS hs
      |      FROM b),
      |ch AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM c),
      |occ AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS dfc FROM ch),
      |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |         CAST(sum(CASE WHEN dfc > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_dup_chunks
      |       FROM occ GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(st.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(st.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
      |  CAST(CASE WHEN coalesce(st.n_chunks, 0) = 0 THEN 0
      |       ELSE floor(CAST(st.n_dup_chunks AS DOUBLE) / st.n_chunks * 10000)
      |       END AS BIGINT) AS dup_frac_e4
      |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin

  private val cdcOracle = cdcStatsOracleFrom(cdcMd5Ctes)
  private val cdcGearOracle = cdcStatsOracleFrom(cdcGearCtes(16, 4))

  // dedup_cdc_remove replay: same boundary/chunk derivation with the
  // chunk TEXT carried alongside the hash, corpus df over distinct
  // (doc, hash), ordered string_agg reassembly of the survivors
  private def cdcRemoveOracleFrom(boundaryCtes: String): String =
    s"""WITH $boundaryCtes,
      |c AS (SELECT doc_id, b2,
      |        list_transform(range(1, len(b2) + 1), j ->
      |          substr(t,
      |            CASE WHEN j = 1 THEN 1 ELSE b2[j - 1] + 1 END,
      |            b2[j] - CASE WHEN j = 1 THEN 0 ELSE b2[j - 1] END)) AS cs
      |      FROM b),
      |c2 AS (SELECT doc_id, b2, cs,
      |         list_transform(cs, x -> md5(x)) AS hs FROM c),
      |ch AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM c2),
      |dupg AS (SELECT h FROM ch GROUP BY h HAVING count(*) > 1),
      |rws AS (SELECT doc_id, unnest(hs) AS h, unnest(cs) AS chunk,
      |          unnest(range(1, len(hs) + 1)) AS j FROM c2),
      |kept AS (SELECT doc_id, j, chunk FROM rws
      |         WHERE h NOT IN (SELECT h FROM dupg)),
      |agg AS (SELECT doc_id, string_agg(chunk, '' ORDER BY j) AS ct,
      |          count(*) AS nk FROM kept GROUP BY doc_id),
      |nck AS (SELECT doc_id, len(b2) AS nc FROM c2)
      |SELECT d.doc_id,
      |  coalesce(agg.ct, '') AS clean_text,
      |  CAST(coalesce(nck.nc, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept
      |FROM documents d LEFT JOIN nck USING (doc_id)
      |LEFT JOIN agg USING (doc_id)""".stripMargin

  private val cdcRemoveOracle = cdcRemoveOracleFrom(cdcMd5Ctes)
  private val cdcGearRemoveOracle = cdcRemoveOracleFrom(cdcGearCtes(16, 4))

  // dedup_tfidf_cosine replay: same whitespace tokens as text_tfidf,
  // df as a window count, e4 integer weights over the df-capped
  // vocabulary, term-key self-join dot products, one float boundary
  // at the final round(cos, 4)
  private val tfidfCosineOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |n AS (SELECT count(*) AS n FROM documents),
      |d AS (SELECT doc_id, term, tf,
      |        count(*) OVER (PARTITION BY term) AS df FROM tf),
      |w AS (SELECT doc_id, term,
      |        CAST(floor(tf * ln((SELECT n FROM n) * 1.0 / df) * 10000)
      |          AS BIGINT) AS w
      |      FROM d WHERE df <= 40),
      |w2 AS (SELECT * FROM w WHERE w > 0),
      |norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w2 GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dotp
      |      FROM w2 a JOIN w2 b ON a.term = b.term AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(dotp * 1.0 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4)
      |    AS cos
      |FROM p JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b
      |WHERE round(dotp * 1.0 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4)
      |      >= 0.6""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_tfidf_cosine" -> tfidfCosineOracle,
    // both legs canonicalize pairs as id_a < id_b, so the agreement
    // join composes the two oracles directly as nested-WITH legs
    "dedup_ensemble" ->
      s"""WITH ja AS (SELECT id_a, id_b, jaccard FROM ($cappedJaccardOracle)),
         |co AS (SELECT id_a, id_b, cos FROM ($tfidfCosineOracle))
         |SELECT ja.id_a, ja.id_b, ja.jaccard, co.cos
         |FROM ja JOIN co ON ja.id_a = co.id_a AND ja.id_b = co.id_b"""
        .stripMargin,
    "dedup_segments" -> segmentsOracle,
    "dedup_cdc" -> cdcOracle,
    "dedup_cdc_remove" -> cdcRemoveOracle,
    "dedup_cdc_gear" -> cdcGearOracle,
    "dedup_cdc_gear_remove" -> cdcGearRemoveOracle,
    "dedup_spans" -> dupSpansOracle,
    "dedup_span_remove" -> dupSpanRemoveOracle,
    "dedup_spans_verified" -> dupSpansVerifiedOracle,
    "dedup_span_remove_verified" -> dupSpanRemoveVerifiedOracle,
    "dedup_editdist" -> editdistOracle,
    "dedup_minhash" -> minhashOracle,
    "dedup_incremental" -> incrementalOracle,
    "dedup_pr_eval" -> prEvalOracle,
    "dedup_sketch_calibration" -> sketchCalibrationOracle,
    "dedup_cluster_sizes" -> clusterSizesOracle,
    "q_dedup_yield" -> dedupYieldOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_ngram_jaccard" -> jaccardOracle,
    "dedup_jaccard_capped" -> cappedJaccardOracle,
    "dedup_containment" -> containmentOracle,
    "dedup_winnow" -> winnowOracle,
    // pair mining = the LSH banded candidates with the mid band
    // [0.30, 0.42) on the same rounded cosine
    "q_lsh_power" -> lshPowerOracle,
    "q_pair_mine" -> embeddingLshAutoOracle(32L, lo = 0.30,
      hi = Some(0.42)),
    "dedup_components" -> componentsOracle,
    "dedup_components_stars" -> componentsOracle,
    "dedup_keep_best" -> keepBestOracle,
    "dedup_embedding" -> embeddingOracle,
    "dedup_embedding_lsh" -> embeddingLshAutoOracle(32L),
    "dedup_embedding_lsh_auto" -> embeddingLshAutoOracle(64L),
    "q_split_leakage" -> splitLeakageOracle
  )
}
