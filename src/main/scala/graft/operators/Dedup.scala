package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for document-scale corpora. All variants
  * follow the same 100 TB shape: per-document signatures computed
  * scan-side (narrow, codegen'd), then ONE shuffle on the
  * signature/bucket key to surface duplicate groups or candidate
  * pairs — never an all-pairs comparison. Hashing is MD5-based and
  * seedless, so signatures are deterministic and portable.
  */
object Dedup {

  /** Exact dedup: group identical values of `on`, keep the smallest
    * id. One hash-aggregate shuffle; map-side partial aggregation
    * makes the exchange proportional to the number of DISTINCT
    * values. */
  def exact(df: DataFrame, idCol: String, on: Column): DataFrame =
    df.groupBy(on.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** MinHash signature frame: (id, h0..h{k-1}) — k seeded-MD5 minima
    * over word n-gram shingles. Docs with fewer than n words drop
    * out (no shingles, no signature). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 12, shingleLen: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), explode(shinglesOfWords(col("__w"), shingleLen)).as("s"))
      .distinct()
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("s")))).as(s"h$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-duplicate candidate pairs. Signatures are
    * banded (`bands` bands of `numHashes/bands` rows); docs sharing
    * any band key become candidates; the estimated Jaccard is the
    * fraction of agreeing signature components. The only wide ops
    * are the signature aggregation and the equi-join on band keys —
    * the classic shingle→minhash→band→bucket-join pipeline.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 12, bands: Int = 4,
                   minEstimate: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the signature frame feeds three join sides; persist it
    // (single-slot — the next invocation unpersists this copy) so the
    // shingle pipeline (the expensive part) runs once
    val sigs = PersistSlots.swap("dedup.minhashSigs",
      minhashSignatures(df, idCol, textCol, numHashes))

    val bandKeys = bandKeysOf(sigs, idCol, numHashes, bands)
    val a = bandKeys.select(col(idCol).as("id_a"), col("band_key"))
    val b = bandKeys.select(col(idCol).as("id_b"), col("band_key"))
    val candidates = a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    estimateFromSignatures(candidates, sigs, sigs, idCol,
      numHashes, minEstimate)
  }

  /** LSH band keys of a signature frame: `bands` MD5 keys per row,
    * each hashing that band's signature slice. */
  private def bandKeysOf(sigs: DataFrame, idCol: String,
                         numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    sigs.select(
      col(idCol),
      explode(array((0 until bands).map { b =>
        md5(concat_ws("#", lit(b.toString) +: (b * r until (b + 1) * r).map(i => col(s"h$i")): _*))
      }: _*)).as("band_key"))
  }

  /** Shared estimate tail: join candidate (id_a, id_b) pairs back to
    * their signatures and keep pairs whose component-agreement
    * fraction clears `minEstimate`. */
  private def estimateFromSignatures(candidates: DataFrame,
                                     sigsA: DataFrame, sigsB: DataFrame,
                                     idCol: String, numHashes: Int,
                                     minEstimate: Double): DataFrame = {
    val sa = sigsA.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val sb = sigsB.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard", round(matches.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= minEstimate)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Narrow (per-row, shuffle-free) MinHash band keys: the
    * higher-order-function form of [[minhashSignatures]] +
    * [[bandKeysOf]] — each h_i is `array_min` over the MD5-seeded
    * shingle transforms, computed inside one projection. Same values
    * as the explode/groupBy signature path (min over the distinct
    * shingle set equals min over the multiset), but usable where a
    * stateful aggregation isn't: streaming micro-batches, map-only
    * stages. Docs with no shingles emit nothing (same dropout rule
    * as the aggregate form). Emits (idCol, band_key), `bands` rows
    * per doc. */
  def bandKeysNarrow(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 12, bands: Int = 4,
                     shingleLen: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val hs = (0 until numHashes).map(i =>
      array_min(transform(col("__sh"),
        s => md5(concat(lit(s"$i|"), s)))).as(s"h$i"))
    val sigs = df
      .select(col(idCol),
        array_distinct(shinglesOfWords(words(col(textCol)), shingleLen))
          .as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol) +: hs: _*)
    bandKeysOf(sigs, idCol, numHashes, bands)
  }

  /** The stored-index half of incremental dedup: (band_key,
    * corpus_id) rows for every corpus document — at 100 TB this is
    * computed once per document on corpus entry and persisted as a
    * table bucketed by band_key, so ingest-time probes are bucket
    * lookups. */
  def corpusBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 12, bands: Int = 4): DataFrame =
    bandKeysOf(minhashSignatures(corpus, idCol, textCol, numHashes),
      idCol, numHashes, bands)
      .select(col("band_key"), col(idCol).as("corpus_id"))

  /** Incremental near-dup detection: MinHash-LSH pairs for a NEW
    * batch of documents against an EXISTING corpus — the daily-ingest
    * shape of fuzzy dedup. Returns exactly the pairs of
    * [[minhashPairs]] over `corpus` union `batch` that involve at
    * least one batch document (id_a < id_b, same columns), but never
    * generates a corpus x corpus candidate: batch band keys probe the
    * corpus band index and self-join only within the batch.
    *
    * Scale shape: the corpus side is ONE narrow
    * signature/band-key projection feeding an equi-join — at 100 TB
    * the (id, h0..h{k-1}) signature index is a few hundred bytes per
    * document, computed once when a document enters the corpus and
    * stored as a table bucketed by band_key, so ingesting a batch
    * touches |batch| x bands bucket partitions instead of re-pairing
    * the corpus (this method recomputes corpus signatures from text
    * because the fixture has no signature store; the plan from the
    * signature frame onward is the production plan). Candidate volume
    * is bounded by batch-side band-bucket occupancy, and the
    * agreement verification joins signatures, never text.
    *
    * `corpus` and `batch` must have disjoint ids. */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 12, bands: Int = 4,
                              minEstimate: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigsC = PersistSlots.swap("dedup.incrSigsCorpus",
      minhashSignatures(corpus, idCol, textCol, numHashes))
    val sigsB = PersistSlots.swap("dedup.incrSigsBatch",
      minhashSignatures(batch, idCol, textCol, numHashes))
    val bandsC = bandKeysOf(sigsC, idCol, numHashes, bands)
    val bandsB = bandKeysOf(sigsB, idCol, numHashes, bands)
    // batch -> corpus probes (ids disjoint, so no self-pair can
    // arise) plus batch-internal pairs; both normalized to
    // id_a < id_b so the output is order-canonical like minhashPairs
    val cross = bandsB.select(col(idCol).as("bid"), col("band_key"))
      .join(bandsC.select(col(idCol).as("cid"), col("band_key")),
        Seq("band_key"))
      .select(least(col("bid"), col("cid")).as("id_a"),
        greatest(col("bid"), col("cid")).as("id_b"))
    val within = bandsB.select(col(idCol).as("id_a"), col("band_key"))
      .join(bandsB.select(col(idCol).as("id_b"), col("band_key")),
        Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // defensive: the disjoint-ids precondition is the caller's
    // contract, but a violated one would otherwise emit least/greatest
    // SELF-pairs (id_a == id_b, est 1.0) silently — drop them here.
    // Duplicate ids across inputs still duplicate signature rows (and
    // thus result rows); that stays the caller's responsibility.
    val candidates = cross.unionByName(within)
      .filter(col("id_a") =!= col("id_b")).distinct()
    val sigsAll = sigsC.unionByName(sigsB)
    estimateFromSignatures(candidates, sigsAll, sigsAll, idCol,
      numHashes, minEstimate)
  }

  /** Per-document 16-bit SimHash over the distinct word set (votes
    * per bit, sign-combined). Narrow until one hash-aggregate. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = df.select(col(idCol),
      explode(array_distinct(words(col(textCol)))).as("w"))
    val voteSums = (0 until 16).map(j => sum(simhashVote(col("w"), j)).as(s"v$j"))
    w.groupBy(col(idCol))
      .agg(voteSums.head, voteSums.tail: _*)
      .select(col(idCol),
        simhashFromVotes((0 until 16).map(j => col(s"v$j"))).as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming`,
    * found by banding the 16 bits into 4 nibbles: pairs within
    * distance 3 must share at least one nibble (pigeonhole), so the
    * candidate join is an equi-join on (band, nibble) — no all-pairs
    * scan. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole covers Hamming <= 3")
    val sh = simhash(df, idCol, textCol)
    val banded = sh.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 4).bitwiseAND(lit(0xf)).as("nibble"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.nibble"))
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("nibble"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("nibble"))
    // single popcount instruction under codegen (vs 16 shift+mask terms)
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
    a.join(b, Seq("band", "nibble"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over an undirected near-dup pair list —
    * the group-resolution step that turns pairwise matches into a
    * canonical keep/drop decision (component label = smallest id in
    * the group, the conventional survivor). Output: one
    * (id, component) row per `ids` row; ids outside the pair graph
    * keep their own id as component.
    *
    * Size-adaptive, same labels both ways. The pair plan runs once: a
    * `localCheckpoint` of the non-null pairs whose row count an
    * observation reads on the same job, freed before the call returns.
    * A near-dup pair graph is a vanishing fraction of the corpus, so
    * the fast path collects that checkpoint ([[driverComponents]])
    * when it holds at most `driverThreshold / 2` rows (each pair is
    * two directed edges, so `driverThreshold` bounds 2 × pair rows
    * before any `distinct`); one union-find pass labels them, and the
    * labels join `ids` as a local relation that broadcasts on its own
    * exact size — zero extra shuffles. The default threshold (2^16)
    * keeps the collected pairs and labels in the ~10 MB range, the
    * same order as a default broadcast-join build side; raise it only
    * with driver/executor memory to spare.
    *
    * Beyond the cap: large-star/small-star contraction
    * ([[starComponents]]), O(log n) rounds whatever the component's
    * diameter, so a chain-shaped component (linked near-dups across a
    * corpus, transitive identity edges) converges as fast as a star.
    *
    * @param ids universe of node ids
    */
  def connectedComponents(pairs: DataFrame, ids: DataFrame, idCol: String,
                          aCol: String = "id_a", bCol: String = "id_b",
                          driverThreshold: Long = 1L << 16): DataFrame =
    ids.select(col(idCol).as("id"))
      .join(endpointComponents(pairs, aCol, bCol, driverThreshold), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

  /** [[connectedComponents]]'s labels for the pair endpoints only,
    * without the join against an id universe: one (id, component) row
    * per pair-graph node that is not its component's minimum, plus —
    * under the driver cap — one per minimum (id == component). Callers
    * that only need the non-survivors (`id =!= component`) read this
    * instead of labelling the whole corpus; under the cap it is a
    * local relation. */
  private[operators] def endpointComponents(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      driverThreshold: Long = 1L << 16): DataFrame = {
    // null endpoints are inert in both forms, so they are dropped up front
    val obs = org.apache.spark.sql.Observation()
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val cap = math.max(0L, math.min(driverThreshold / 2, Int.MaxValue - 1L))
    val longIds = p.schema.forall(_.dataType == org.apache.spark.sql.types.LongType)
    try
      if (longIds && obs.get("n").asInstanceOf[Long] <= cap) driverComponents(p)
      else starComponents(p, "a", "b", StarMaxRounds)
    finally
      // both forms are done with the checkpoint once they return:
      // driver labels are a local relation, star contraction's result
      // reads its own last round
      p.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
  }

  /** Round cap of [[starComponents]]. Star contraction needs
    * O(log n) rounds (a 512-node chain settles in under 20), so
    * reaching 50 signals a defect, not a deep graph. */
  private val StarMaxRounds = 50

  /** The driver fast path of [[connectedComponents]], for a
    * checkpointed non-null Long pair frame (a, b) whose row count is
    * known to be at most the cap (`driverThreshold / 2`): collect it,
    * and union-find on the driver gives every pair endpoint its min-id
    * label, returned as a local (id, component) frame. Over the cap —
    * or for non-Long endpoints, which the primitive union-find does
    * not cover — the caller resolves the same checkpoint by star
    * contraction instead. */
  private def driverComponents(pairs: DataFrame): DataFrame = {
    val es = pairs
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)).collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // root = smallest id in the component (unions always point the
    // larger root at the smaller one)
    val labels = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet[Long]
      .toSeq.map(v => v -> find(v))
    pairs.sparkSession.createDataFrame(labels).toDF("id", "component")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the distributed form of [[connectedComponents]].
    * Its round count is O(log n), not the component DIAMETER that
    * min-label propagation pays.
    *
    * Each round is two conditional re-hangings over the canonical
    * (larger, smaller) edge list: large-star hangs every
    * bigger-than-center neighbor under the neighborhood minimum,
    * small-star re-hangs the smaller neighbors and the center itself.
    * Both are one hash-aggregate plus one equi-join. Convergence is
    * detected by an edge-set witness observed on the SAME job that
    * materializes the round (no extra action); at the fixpoint the
    * edge set is a star forest rooted at each component's minimum id.
    *
    * Returns endpoint labels: one (id, component) row per pair-graph
    * node that is NOT its component's minimum (the star forest has
    * exactly one edge per leaf, pointing at the root); roots carry no
    * row. Throws if the fixpoint takes more than `maxRounds` rounds. */
  private[graft] def starComponents(pairs: DataFrame, aCol: String, bCol: String,
                                    maxRounds: Int): DataFrame = {
    val canon = pairs
      .select(col(aCol).as("x"), col(bCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      // neighborhoods from both endpoints; m(u) = min(N(u) ∪ {u})
      val nbr = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbr.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // hang every strictly-larger neighbor under m; v > u >= m keeps
      // the (larger, smaller) canonical orientation for free
      nbr.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already point big -> small: N<(u) = e(u, *)
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hangNbrs = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val hangSelf = mins.select(col("u"), col("m").as("v"))
      hangNbrs.unionAll(hangSelf)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = canon.localCheckpoint()
    var prevCount = -1L
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val obs = org.apache.spark.sql.Observation(s"cc_stars_$round")
      // exact convergence witness, still one action per round: count
      // next-edges absent from the previous set via a left join
      // against the checkpointed previous edges. next == edges iff
      // fresh == 0 and |next| == |edges| (next ⊆ edges with equal
      // cardinality) — no probabilistic checksum.
      val next = smallStar(largeStar(edges))
        .join(edges.withColumn("__old", lit(1)), Seq("u", "v"), "left")
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(when(col("__old").isNull, 1L).otherwise(0L)),
            lit(0L)).as("fresh"))
        .select(col("u"), col("v"))
        .localCheckpoint()
      val n = obs.get("n").asInstanceOf[Long]
      val fresh = obs.get("fresh").asInstanceOf[Long]
      edges.unpersist()
      edges = next
      converged = fresh == 0L && n == prevCount
      prevCount = n
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxRounds rounds")
    edges.select(col("u").as("id"), col("v").as("component"))
  }

  /** Fuzzy-dedup SURVIVOR selection: resolve near-duplicate clusters
    * ([[connectedComponents]] over `pairs`) and keep the best
    * document of each cluster by `scoreCol` (ties → smallest id) —
    * the "keep the highest-quality copy" policy real pipelines run
    * instead of min-id-wins, which keeps an arbitrary copy.
    *
    * `docs` must carry `idCol` and an integral `scoreCol` (quality
    * rank, word count, …). Scale shape: the component resolution is
    * [[connectedComponents]] (driver union-find under the cap, star
    * contraction over it); the score lookup is an id equi-join at survivor scale
    * (SMJ — both sides ≈ corpus size); the per-cluster argmax is the
    * bounded [[TopK]] partial aggregate, ≤1 row per cluster per task
    * crossing the exchange — never a cluster-partitioned window over
    * the corpus. Output: (idCol, component, scoreCol), one row per
    * cluster. */
  def keepBestPerComponent(pairs: DataFrame, docs: DataFrame, idCol: String,
                           scoreCol: String,
                           aCol: String = "id_a", bCol: String = "id_b")
  : DataFrame = {
    val comp = connectedComponents(pairs, docs, idCol, aCol, bCol)
    val scored = comp.join(
      docs.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
    TopK.perKey(scored, "component", "id", scoreCol, k = 1)
      .select(col("id").as(idCol), col("component"),
        col(scoreCol).cast("long"))
  }

  /** Shared Jaccard tail over a distinct `(id, token)` relation:
    * shared-token self-join for intersections and the exact
    * |A∩B| / (|A|+|B|-|A∩B|) ratio rounded to 4 dp (the
    * oracle-portable arithmetic). Each token row carries its id's set
    * size as a window count over the id — the set-similarity-join
    * shape where verification data rides the filter side — so the
    * pair aggregate already holds both sizes: no per-id count
    * aggregate, no join back, no persist. The window counts exactly
    * the rows a per-id count would, so the result is exact for any
    * `(id, tok)` relation, duplicated ids and null tokens included.
    * Both self-join sides are the same subtree, so a shuffled join
    * reuses one exchange for both.
    */
  private[graft] def jaccardFromTokens(tokens: DataFrame, minJaccard: Double): DataFrame = {
    val t = tokens.select(col("id"), col("tok"), count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("id"))).as("n"))
    t.as("a").join(t.as("b"), col("a.tok") === col("b.tok"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Deterministic md5-keyed membership: true iff the first 32 md5
    * bits of the column's decimal string fall in residue 0 mod `m` —
    * the same replayable-sampling discipline as
    * [[Bootstrap.halfSampleCI]]'s replicate bits (uniform, engine
    * portable, partitioning-independent). */
  private[operators] def md5Sampled(c: Column, m: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("long") % m === 0

  /** SAMPLED exact-Jaccard ground truth: the pairs of
    * [[ngramJaccardPairs]] restricted to pairs whose SMALLER id
    * falls in a deterministic md5 sample of rate 1/`sampleMod`.
    * Every (a, b) pair with a < b is included iff a is sampled, so
    * pair inclusion is uniform at exactly 1/sampleMod — an unbiased
    * frame for estimating pair-level recall of a sketch — while the
    * shared-shingle self-join (the all-pairs-shaped cost the full
    * form pays) shrinks by the same factor: only sampled documents'
    * shingles enter the left side. This is the scale path for
    * sketch-quality evaluation on a real corpus (FAISS-style evals
    * measure recall on sampled queries for the same reason); the
    * full form remains the small-sf equivalence contract.
    *
    * `maxDocFreq` (default: uncapped) bounds the remaining fan-out:
    * a shingle appearing in more than that many documents is dropped
    * from BOTH the intersection join and the per-doc set sizes (the
    * same capped-Jaccard semantics as the production
    * `dedup_jaccard_capped` path), so a pathological stop-shingle
    * can no longer make the recall frame quadratic. Capping the
    * TRUTH biases it — a pair whose overlap rides only ultra-common
    * shingles scores lower — but at sane caps the bias on the
    * recall ESTIMATE is ~0 because such pairs have true Jaccard far
    * below any useful threshold; [[graft.PrEvalSpec]] measures the
    * bias against the uncapped truth on the test corpus. */
  def ngramJaccardPairsSampled(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int = 3, minJaccard: Double = 0.5,
                               sampleMod: Int = 4,
                               maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val raw = df.select(col(idCol).as("id"), words(col(textCol)).as("__w"))
      .select(col("id"), explode(shinglesOfWords(col("__w"), shingleLen)).as("tok"))
      .distinct()
    val capped =
      if (maxDocFreq == Int.MaxValue) raw
      else
        raw.withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
          .filter(col("__df") <= maxDocFreq).drop("__df")
    val slot = if (maxDocFreq == Int.MaxValue) "dedup.ngramTokens.uncapped"
               else "dedup.ngramTokens.sampledCapped"
    val t = PersistSlots.swap(slot, capped)
    val counts = t.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = t.filter(md5Sampled(col("id"), sampleMod))
      .select(col("id").as("id_a"), col("tok"))
      .join(t.select(col("id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact shingle Jaccard for GIVEN candidate pairs — the
    * verification kernel of sketch-quality evaluation (precision
    * leg): cost is linear in |pairs| x shingles-per-doc, never a
    * corpus self-join. Pairs sharing no shingle (pure band
    * collisions) come back with jaccard 0. Same round-to-4
    * arithmetic as [[ngramJaccardPairs]]. */
  def exactJaccardFor(pairs: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, shingleLen: Int = 3): DataFrame = {
    val raw = df.select(col(idCol).as("id"), words(col(textCol)).as("__w"))
      .select(col("id"), explode(shinglesOfWords(col("__w"), shingleLen)).as("tok"))
      .distinct()
    val t = PersistSlots.swap("dedup.ngramTokens.uncapped", raw)
    val counts = t.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val p = pairs.select(col("id_a"), col("id_b"))
    val inter = p
      .join(t.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(t.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__i"))
    // counts join LEFT with a 0 fill: a pair referencing a doc with
    // ZERO shingles (text shorter than shingleLen) must come back
    // with jaccard 0 per the contract above, not silently drop —
    // unreachable from minhash candidates (>=1 shingle each) but
    // this method is public. Both-empty pairs (denominator 0) are
    // defined as jaccard 0 too (no evidence of similarity).
    p.join(inter, Seq("id_a", "id_b"), "left")
      .join(counts.select(col("id").as("id_a"), col("n").as("na")),
        Seq("id_a"), "left")
      .join(counts.select(col("id").as("id_b"), col("n").as("nb")),
        Seq("id_b"), "left")
      .withColumn("__na", coalesce(col("na"), lit(0L)))
      .withColumn("__nb", coalesce(col("nb"), lit(0L)))
      .withColumn("jaccard",
        when(col("__na") + col("__nb") === 0, lit(0.0))
          .otherwise(round(
            coalesce(col("__i"), lit(0L)).cast("double") /
              (col("__na") + col("__nb") - coalesce(col("__i"), lit(0L))), 4)))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** DIRECTED containment near-dup pairs (Broder's containment
    * coefficient): containment(a→b) = |S_a ∩ S_b| / |S_a| over the
    * df-capped distinct shingle sets — catches a document EMBEDDED
    * in a larger one (quoted articles, concatenated dumps,
    * page-plus-boilerplate wrappers), which symmetric Jaccard
    * misses because the union is dominated by the larger document.
    * Same candidate discipline as [[ngramJaccardPairs]] (only docs
    * sharing a shingle ever meet; `maxDocFreq` caps the self-join
    * fan-out at cap² per shingle), but pairs emit in BOTH directions
    * and divide by the CONTAINED side's set size. A row (a, b, c)
    * reads "fraction c of a's shingles also appear in b".
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, minContainment: Double = 0.8,
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val raw = df.select(col(idCol).as("id"), words(col(textCol)).as("__w"))
      .select(col("id"), explode(shinglesOfWords(col("__w"), shingleLen)).as("tok"))
      .distinct()
    val capped =
      if (maxDocFreq == Int.MaxValue) raw
      else
        raw.withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
          .filter(col("__df") <= maxDocFreq).drop("__df")
    // own slot: containment can compose with other slot-persisting
    // dedup operators in one pipeline before either is evaluated, and
    // a shared slot would let the second swap evict the first's cache
    // mid-build
    val t = PersistSlots.swap("dedup.containTokens", capped)
    val counts = t.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = t.select(col("id").as("id_a"), col("tok"))
      .join(t.select(col("id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .withColumn("containment",
        round(col("inter").cast("double") / col("na"), 4))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Near-dup pairs by Jaccard over *winnowed* fingerprint minima —
    * the production-scale form of [[ngramJaccardPairs]]: winnowing
    * keeps ~1/w of the shingle hashes (window minima), so the
    * self-join shuffles a w-times-smaller table and the fan-out per
    * shared hash shrinks accordingly, while near-identical documents
    * still share most minima (Schleimer et al. 2003 guarantees every
    * match of length >= w+k-1 is witnessed). Exact arithmetic over
    * the sampled sets — oracle-checkable, unlike MinHash's
    * probabilistic estimate.
    */
  def winnowJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, window: Int = 4,
                         minJaccard: Double = 0.5): DataFrame =
    winnowJaccardPairsOfWords(
      df.select(col(idCol), words(col(textCol)).as("__gww")),
      idCol, "__gww", shingleLen, window, minJaccard)

  /** [[winnowJaccardPairs]] over an already-projected word-array
    * column — composed pipelines tokenize once and feed every stage
    * from the same array (regex/HOF expressions have no CSE). */
  def winnowJaccardPairsOfWords(df: DataFrame, idCol: String, wordsCol: String,
                                shingleLen: Int = 3, window: Int = 4,
                                minJaccard: Double = 0.5): DataFrame =
    jaccardFromTokens(
      df.select(col(idCol).as("id"), col(wordsCol).as("__w"))
        .select(col("id"), shinglesOfWords(col("__w"), shingleLen).as("__sh"))
        .select(col("id"), shingleHashes48(col("__sh")).as("__hs"))
        .select(col("id"),
          explode(array_distinct(winnowedMins(col("__hs"), window))).as("tok")),
      minJaccard)

  /** Fuzzy near-dup pairs by Levenshtein distance over normalized
    * text prefixes, with length-bucket banding so candidates meet via
    * an equi-join instead of an all-pairs scan.
    *
    * Pairs within edit distance `maxDist` differ in length by at most
    * `maxDist`; with bucket width `lenBucket > maxDist` such a pair's
    * buckets differ by at most 1, so emitting keys {b-1, b, b+1} on
    * one side and {b} on the other witnesses every qualifying pair —
    * the banding is purely a pruning optimization and the observable
    * semantics are exactly "length diff <= maxDist AND
    * levenshtein(prefix_a, prefix_b) <= maxDist", which is what the
    * oracle states. Distances are computed on a fixed-length prefix
    * of the normalized text with the banded threshold DP, so the
    * per-pair cost is O(prefixLen * maxDist) regardless of document
    * size (the standard trick for quadratic-cost verifiers).
    *
    * Caveat for corpora whose lengths cluster (tweets, fixed
    * truncation): length banding alone leaves O(bucket^2) candidates
    * in the crowded buckets. A provably complete second band needs a
    * PartEnum/q-gram-style chunk filter; when lengths don't
    * discriminate, prefer the content-based candidate generators
    * ([[winnowJaccardPairs]], [[minhashPairs]]) instead.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        lenCol: String, maxDist: Int = 5,
                        prefixLen: Int = 40, lenBucket: Int = 16): DataFrame = {
    require(lenBucket > maxDist,
      "lenBucket must exceed maxDist for the +-1 bucket band to be complete")
    val base = df.select(col(idCol).as("id"),
      substring(trim(lower(col(textCol))), 1, prefixLen).as("p"),
      col(lenCol).as("len"),
      floor(col(lenCol) / lenBucket).as("b"))
    val a = base.select(col("id").as("id_a"), col("p").as("pa"),
        col("len").as("la"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bk"))
    val b = base.select(col("id").as("id_b"), col("p").as("pb"),
        col("len").as("lb"), col("b").as("bk"))
    // no dedup needed: the b side emits one bucket key and the a
    // side's three keys are distinct, so each qualifying (smaller id,
    // larger id) pair meets exactly once. The threshold levenshtein
    // yields -1 above the bound — same surviving (pair, dist) set as
    // the unbounded distance.
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("la") - col("lb")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("pa"), col("pb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact n-gram Jaccard pairs: distinct shingles self-joined on the
    * shingle (only docs sharing a shingle ever meet). `maxDocFreq`
    * caps shingle document frequency at corpus scale: shingles in
    * more than that many documents are dropped BEFORE the self-join,
    * bounding its fan-out to maxDocFreq^2 per shingle; Jaccard is
    * then computed over the capped shingle sets (a documented
    * approximation — near-duplicates share plenty of rare shingles).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, minJaccard: Double = 0.5,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val raw = df.select(col(idCol).as("id"), words(col(textCol)).as("__w"))
      .select(col("id"), explode(shinglesOfWords(col("__w"), shingleLen)).as("tok"))
      .distinct()
    val capped =
      if (maxDocFreq == Int.MaxValue) raw
      else
        // document frequency as a window count: ONE exchange on the
        // shingle (vs aggregate + join back = two), and the output
        // stays hash-partitioned by tok for the self-join that
        // follows. Same exact semantics as the agg+join form
        // (measured ~15% faster end-to-end at sf0.1).
        raw.withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
          .filter(col("__df") <= maxDocFreq).drop("__df")
    jaccardFromTokens(capped, minJaccard)
  }

  /** Exact duplicated-span detection at token granularity: a run of
    * `spanLen` consecutive words occurring more than once in the
    * corpus (in another document, or again in the same one) is a
    * duplicated span. This is the detection half of exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": repeated >= L-token substrings): every
    * repeated substring of length >= L contains a repeated L-gram,
    * and every repeated L-gram IS a repeated span of length exactly
    * L, so L-gram occurrence counts detect spans exactly at
    * granularity L — no suffix array needed. Returns one row per
    * input document (total annotation, like
    * [[Decontaminate.overlapReport]]): total spans, duplicated
    * spans, and the duplicated fraction in floor-scaled basis points;
    * filter on `dup_frac_e4` to drop boilerplate-heavy documents.
    *
    * Scale shape: spans hash to 48-bit keys scan-side; the occurrence
    * count is a window count over the hash (ONE exchange on the
    * span key), then per-doc stats are a map-combined aggregation on
    * id. No self-join exists anywhere, so cost is linear in total
    * span count REGARDLESS of how duplicated the corpus is — the
    * pair-emitting dedup operators are inherently quadratic per
    * duplicate group; counting is not. A 48-bit collision folds two
    * spans together identically in the SQL replay (~2^-48 per pair).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   spanLen: Int = 8): DataFrame =
    dupSpanStatsOfWords(
      df.select(col(idCol), words(col(textCol)).as("__gdw")),
      idCol, "__gdw", spanLen)

  /** [[dupSpanStats]] over an already-projected word-array column —
    * composed pipelines tokenize once (regex/HOF expressions have no
    * CSE). */
  def dupSpanStatsOfWords(df: DataFrame, idCol: String, wordsCol: String,
                          spanLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = df
      .select(col(idCol).as("id"), col(wordsCol).as("__w"))
      .select(col("id"), shinglesOfWords(col("__w"), spanLen).as("__sh"))
      .select(col("id"), explode(shingleHashes48(col("__sh"))).as("h"))
    val stats = spans
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("__occ") > 1).cast("long")).as("n_dup_spans"))
    df.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac_e4",
        when(col("n_spans") === 0, lit(0L))
          .otherwise(floor(col("n_dup_spans").cast("double") /
            col("n_spans") * 10000).cast("long")))
  }

  /** Segment-granularity duplication stats: split each document at
    * NATURAL boundaries (sentences via ". ", or paragraphs via a
    * newline separator) and measure, per document, what fraction of
    * its distinct segments also appear in at least one OTHER
    * document. This is the C4-style boilerplate signal at its native
    * granularity — [[dupSpanStats]] counts repeated fixed-length
    * token runs (Lee et al. exact-substring), while navigation bars,
    * cookie banners and license blocks repeat as whole SENTENCES, so
    * a sentence-level count both catches them with no length tuning
    * and never flags a doc for re-using a common 8-token phrase.
    * Within-document repeats deliberately do NOT count (that is
    * [[dupSpanStats]]'s job); a segment is duplicated iff >= 2
    * distinct documents contain it.
    *
    * Scale shape: explode + distinct on (doc, segment-hash), one
    * window count over the hash for document frequency (one
    * exchange), then a map-combined per-doc aggregation. No
    * self-join — linear in total segment count regardless of
    * corpus duplication.
    *
    * @param sepRegex segment boundary regex (default sentence-ish
    *                 `"\\. "`); segments shorter than `minChars`
    *                 after trim are ignored (fragments, empties).
    * @return (idCol, n_segs, n_dup_segs, dup_frac_e4) — one row per
    *         input doc; filter on `dup_frac_e4` to drop
    *         boilerplate-heavy documents. */
  def segmentDupStats(df: DataFrame, idCol: String, textCol: String,
                      sepRegex: String = "\\. ",
                      minChars: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), sepRegex)).as("__s"))
      .select(col("id"), trim(lower(col("__s"))).as("__s"))
      .filter(length(col("__s")) >= minChars)
      .select(col("id"), md5(col("__s")).as("h"))
      .distinct()
    val stats = segs
      // document frequency of the segment: distinct (id, h) upstream
      // makes the plain window count a doc count
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_segs"),
        sum((col("__df") > 1).cast("long")).as("n_dup_segs"))
    df.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dup_segs"), lit(0L)).as("n_dup_segs"))
      .withColumn("dup_frac_e4",
        when(col("n_segs") === 0, lit(0L))
          .otherwise(floor(col("n_dup_segs").cast("double") /
            col("n_segs") * 10000).cast("long")))
  }

  /** The CDC boundary rule + chunk-hash expressions shared by the
    * stats and rewrite halves — ONE definition so an edit cannot
    * silently desynchronize what the stats count from what the
    * rewrite removes. Internal boundaries stop at len-1: the final
    * chunk always ends at len, so position len never needs testing
    * (and a doc shorter than the gram window is one whole-doc
    * chunk). Expects the text as `__t`; boundary array binds `__b`.
    * @return (boundary-array SQL, chunk-hash-array SQL) */
  private def cdcExprs(window: Int, maskHex: String): String = {
    require(window >= 2 && maskHex.nonEmpty)
    val inMask = maskHex.map(c => s"'$c'").mkString("(", ",", ")")
    val w = window
    s"""concat(
       |  CASE WHEN length(__t) >= ${w + 1}
       |       THEN filter(sequence($w, length(__t) - 1),
       |              i -> substring(md5(substring(__t, i - ${w - 1}, $w)), 32, 1)
       |                   IN $inMask)
       |       ELSE array() END,
       |  array(length(__t)))""".stripMargin
  }

  /** md5-per-chunk hash array over a boundary array — shared by BOTH
    * boundary contracts (md5-gram and Gear rolling hash): the chunk
    * hash is one md5 per CHUNK, so it was never the cost problem the
    * per-position boundary pass was. References `__t` and `__b`. */
  private val cdcChunkHashesSql: String =
    """transform(__b, (b, j) -> md5(substring(__t,
      |  CASE WHEN j = 0 THEN 1 ELSE element_at(__b, j) + 1 END,
      |  b - CASE WHEN j = 0 THEN 0 ELSE element_at(__b, j) END)))""".stripMargin

  /** Content-defined chunking (CDC) duplication stats — the
    * storage-layer dedup notion (LBFS/rsync, Gear/FastCDC) applied
    * to document text: a chunk boundary falls at character position
    * `i` (the END of the `window`-char gram) whenever the md5 of
    * that gram lands in the boundary mask (last hex digit in
    * `maskHex`, so P(boundary) = |maskHex|/16 and expected chunk
    * length ≈ 16/|maskHex| chars at fixture scale; a production
    * deployment widens the mask to ~log2(target chunk) bits). Unlike
    * [[segmentDupStats]]'s natural-boundary segments, CDC boundaries
    * move WITH the content: inserting a word re-chunks only the
    * neighborhood of the edit, so shared chunks between near-copies
    * survive arbitrary local edits — the property that makes
    * storage dedup robust where fixed-size blocks shatter.
    * A chunk is duplicated iff >= 2 distinct documents contain it.
    *
    * Scale shape: boundary detection and chunk hashing are pure
    * narrow higher-order array expressions per document (no
    * shuffle); then the [[segmentDupStats]] tail — explode +
    * distinct on (doc, chunk-hash), ONE window count for document
    * frequency, one map-combined per-doc aggregation. No self-join,
    * linear in total chunk count however duplicated the corpus.
    * Every arithmetic step replays verbatim in SQL.
    *
    * @return (idCol, n_chunks, n_dup_chunks, dup_frac_e4) — one row
    *         per input doc (zero-chunk annotation for empty text).
    *         n_chunks counts DISTINCT chunk hashes per doc (the df
    *         notion needs distinct (doc, hash)); [[cdcChunkRemove]]'s
    *         n_chunks counts SLICES — a doc repeating one chunk
    *         internally reports different totals in the two halves,
    *         by design (duplication identity vs text proportion). */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
                    window: Int = 16, maskHex: String = "0"): DataFrame =
    cdcChunkStatsImpl(df, idCol, textCol,
      expr(cdcExprs(window, maskHex)))

  /** [[cdcChunkStats]] with the Gear rolling-hash boundary kernel
    * ([[graft.plans.GearCdc]]) in place of the md5-per-position gram
    * test — identical stats tail, identical chunk hashing, identical
    * output schema; only the (content-defined) boundary positions
    * differ. This is the production form: one table lookup + shift +
    * add per character inside whole-stage codegen, vs one full md5
    * per character position. Defaults match the md5 contract's
    * density (minPos 16, maskBits 4 -> P(boundary) = 1/16). */
  def cdcChunkStatsGear(df: DataFrame, idCol: String, textCol: String,
                        minPos: Int = 16, maskBits: Int = 4): DataFrame =
    cdcChunkStatsImpl(df, idCol, textCol,
      graft.plans.GearCdc.boundariesCol(col("__t"), minPos, maskBits))

  /** Raw-BYTE CDC duplication stats over a `binary` column — the
    * storage-layer dedup form proper (LBFS/Gear chunk encoded
    * payloads: media bytes, serialized records — no text decode
    * anywhere). Boundaries from the codegen'd byte-level Gear
    * kernel ([[graft.plans.GearCdc.binaryBoundaries]]); chunk
    * identity is the hex byte-slice (no hash needed — the keys
    * never leave the plan, only counts do, and a hex slice replays
    * verbatim in SQL over `hex(payload)`). Same no-self-join tail
    * as [[cdcChunkStats]]: one window count for chunk document
    * frequency, one map-combined per-doc aggregation — linear in
    * total chunk count however duplicated the corpus.
    * @return (idCol, n_chunks, n_dup_chunks, dup_frac_e4) */
  def cdcChunkStatsBinary(df: DataFrame, idCol: String, binCol: String,
                          minPos: Int = 16, maskBits: Int = 4): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"), col(binCol).as("__bin"))
      .filter(length(col("__bin")) >= 1)
      .withColumn("__hex", hex(col("__bin")))
      .withColumn("__b",
        graft.plans.GearCdc.binaryBoundariesCol(col("__bin"), minPos, maskBits))
      .select(col("id"), explode(expr(
        """transform(__b, (b, j) -> substring(__hex,
          |  CASE WHEN j = 0 THEN 1 ELSE element_at(__b, j) * 2 + 1 END,
          |  (b - CASE WHEN j = 0 THEN 0 ELSE element_at(__b, j) END) * 2))"""
          .stripMargin)).as("h"))
      .distinct()
    cdcStatsTail(df, idCol, chunks)
  }

  private def cdcChunkStatsImpl(df: DataFrame, idCol: String, textCol: String,
                                boundary: org.apache.spark.sql.Column): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= 1)
      .withColumn("__b", boundary)
      .select(col("id"), explode(expr(cdcChunkHashesSql)).as("h"))
      .distinct()
    cdcStatsTail(df, idCol, chunks)
  }

  /** The shared CDC stats tail over a distinct (id, chunk-key)
    * frame: ONE window count for chunk document frequency, one
    * map-combined per-doc aggregation, zero-chunk annotation via a
    * left join back to the input ids. */
  private def cdcStatsTail(df: DataFrame, idCol: String,
                           chunks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = chunks
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("__df") > 1).cast("long")).as("n_dup_chunks"))
    df.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac_e4",
        when(col("n_chunks") === 0, lit(0L))
          .otherwise(floor(col("n_dup_chunks").cast("double") /
            col("n_chunks") * 10000).cast("long")))
  }

  /** The rewrite half of CDC dedup — remove every chunk that appears
    * in at least one OTHER document (the boilerplate/wrapper bytes)
    * and reassemble the survivors in order. Complements
    * [[cdcChunkStats]] exactly as [[dupSpanRemove]] complements
    * [[dupSpanStats]].
    *
    * Scale shape: the document TEXT never shuffles. Chunk hashes
    * (16 bytes/chunk) ride the [[cdcChunkStats]] df pipeline; each
    * doc's duplicated-hash SET comes back as one small array column
    * via an equi-join, and the rebuild is a doc-local higher-order
    * filter + substring concat against that set. A doc with no
    * duplicated chunks reassembles to its exact original text (the
    * chunks partition the doc).
    * @return (idCol, clean_text, n_chunks, n_kept) — n_chunks and
    *         n_kept count SLICES (the text-proportion view: a doc
    *         repeating a duplicated chunk loses every occurrence),
    *         where [[cdcChunkStats]]' n_chunks counts distinct
    *         hashes; join the halves on idCol, not on the counts. */
  def cdcChunkRemove(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 16, maskHex: String = "0"): DataFrame =
    cdcChunkRemoveImpl(df, idCol, textCol,
      expr(cdcExprs(window, maskHex)), "dedup.cdcBase")

  /** [[cdcChunkRemove]] with the Gear rolling-hash boundary kernel —
    * the rewrite half of [[cdcChunkStatsGear]], same shared tail as
    * the md5 form. */
  def cdcChunkRemoveGear(df: DataFrame, idCol: String, textCol: String,
                         minPos: Int = 16, maskBits: Int = 4): DataFrame =
    cdcChunkRemoveImpl(df, idCol, textCol,
      graft.plans.GearCdc.boundariesCol(col("__t"), minPos, maskBits),
      "dedup.cdcGearBase")

  private def cdcChunkRemoveImpl(df: DataFrame, idCol: String, textCol: String,
                                 boundary: org.apache.spark.sql.Column,
                                 slotKey: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // slot-persisted: dupSets AND the rebuild both read this subtree —
    // without the persist the whole boundary pass runs twice (for the
    // md5 contract that pass is one md5 per character position)
    val base = PersistSlots.swap(slotKey, df
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= 1)
      .withColumn("__b", boundary))
    // corpus df over distinct (doc, hash) — same duplication notion
    // as the stats half; only 16-byte hashes shuffle
    val dupSets = base
      .select(col("id"), explode(expr(cdcChunkHashesSql)).as("h"))
      .distinct()
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__df") > 1)
      .groupBy(col("id")).agg(collect_set(col("h")).as("__dups"))
    val rebuilt = base
      .join(dupSets, Seq("id"), "left")
      .withColumn("__dups",
        coalesce(col("__dups"), array().cast("array<string>")))
      // materialize the kept-chunk slices ONCE (HOF lambdas get no
      // CSE — an inline hash in both clean_text and n_kept would
      // re-run every md5 per consumer), then both outputs read the
      // same filtered array. n_kept counts CHUNKS kept, not |set|
      // removed: a doc can repeat one duplicated chunk several times
      .withColumn("__kept",
        expr(
          """filter(transform(__b, (b, j) -> struct(
            |    CASE WHEN j = 0 THEN 1 ELSE element_at(__b, j) + 1 END AS s,
            |    b - CASE WHEN j = 0 THEN 0 ELSE element_at(__b, j) END AS l)),
            |  c -> NOT array_contains(__dups, md5(substring(__t, c.s, c.l))))"""
            .stripMargin))
      .select(col("id"),
        expr("array_join(transform(__kept, c -> substring(__t, c.s, c.l)), '')")
          .as("clean_text"),
        size(col("__b")).cast("long").as("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The rewrite half of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * after measuring duplication, REMOVE it): drop every word that
    * lies inside a duplicated `spanLen`-word run (span hash occurs
    * more than once corpus-wide, within-document repeats included —
    * same duplication notion as [[dupSpanStats]]) and emit the
    * scrubbed text. Boilerplate (headers, navigation, license
    * blocks) disappears from every copy; unique prose survives.
    * Output: (id, clean_text, n_words, n_kept).
    *
    * Scale shape: identical to [[dupSpanStats]] — one exchange on
    * the span hash for the occurrence window, one aggregation on id
    * collecting the duplicated span STARTS (bounded by spans/doc),
    * then the rewrite is a doc-local array filter at scan speed. No
    * self-join, so cost stays linear in span count however
    * duplicated the corpus is. The in-doc filter tests each word
    * against each duplicated start — O(words x dup-starts) per doc;
    * fine for chunk-sized documents, and a fully-duplicated
    * adversarial book would instead want the relational rewrite
    * (explode covered indices, anti-join, re-aggregate: 3 more
    * linear exchanges, no quadratic doc-local term).
    */
  def dupSpanRemove(df: DataFrame, idCol: String, textCol: String,
                    spanLen: Int = 8): DataFrame =
    dupSpanRemoveOfWords(
      df.select(col(idCol), words(col(textCol)).as("__gdw")),
      idCol, "__gdw", spanLen)

  /** [[dupSpanRemove]] over an already-projected word-array column —
    * composed pipelines tokenize once (regex/HOF expressions have no
    * CSE). */
  def dupSpanRemoveOfWords(df: DataFrame, idCol: String, wordsCol: String,
                           spanLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(wordsCol).as("__w"))
    val spans = base
      .select(col("id"), shinglesOfWords(col("__w"), spanLen).as("__sh"))
      .select(col("id"), posexplode(shingleHashes48(col("__sh"))))
    val dupStarts = spans
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("col"))))
      .filter(col("__occ") > 1)
      .groupBy(col("id"))
      .agg(collect_set(col("pos")).as("__starts"))
    scrubSpans(base, dupStarts, idCol, spanLen)
  }

  /** Shared scrub rewrite for the span-remove family: drop every word
    * of `base` = (id, __w) covered by a duplicated span start from
    * `dupStarts` = (id, __starts) — 0-based starts; span p covers
    * word indices [p, p + spanLen). One doc-local array filter; the
    * unverified and verified remove paths MUST share this body so
    * their output contracts (and the verified==unverified
    * differential spec) cannot silently diverge. */
  private def scrubSpans(base: DataFrame, dupStarts: DataFrame,
                         idCol: String, spanLen: Int): DataFrame =
    base
      .join(dupStarts, Seq("id"), "left")
      .withColumn("__st", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__w"), (wd, i) =>
        !exists(col("__st"), p => p <= i && i < p + spanLen)))
      .select(col("id").as(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__w")).cast("long").as("n_words"),
        size(col("__kept")).cast("long").as("n_kept"))

  /** Shared machinery for the collision-VERIFIED span operators
    * (round 15): the slot-persisted (id, words) base plus the
    * TEXT-VERIFIED duplicated span starts (id, pos).
    *
    * [[dupSpanStats]]/[[dupSpanRemove]] key duplication on a 48-bit
    * span hash; at 100 TB-scale span counts (far beyond 2^24)
    * birthday collisions fold unrelated spans together, and on the
    * remove path that SCRUBS INNOCENT TEXT. The verified form joins
    * the hash-matched candidates — bounded: only spans whose hash
    * occurs more than once — back to the documents' actual word
    * slices (`slice(words, pos+1, spanLen)` rebuilds the span text
    * exactly, since shingles are space-joined words) and recounts
    * occurrence on the span TEXT itself, making the Lee et al. 2022
    * exact-substring signal exact: two different spans that collide
    * in the hash have text occurrence 1 each and drop out.
    *
    * Scale shape: the base projection is slot-persisted (consumed by
    * the span explode AND the candidate join); verification adds ONE
    * join bounded to the candidate set (at a realistic duplication
    * rate, a small fraction of spans) and one window exchange on the
    * rebuilt span text. No self-join anywhere — still linear in
    * total span count regardless of corpus duplication.
    *
    * `hashHexDigits` narrows the span key so the engineered-collision
    * spec can force collisions cheaply (production callers use the
    * default 12 = 48 bits via the public wrappers).
    */
  private def verifiedSpanFrames(df: DataFrame, idCol: String,
                                 textCol: String, spanLen: Int,
                                 hashHexDigits: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val base = PersistSlots.swap(s"dedup.spanVerify.base.$spanLen",
      df.select(col(idCol).as("id"), words(col(textCol)).as("__w")))
    val spans = base
      .select(col("id"), shinglesOfWords(col("__w"), spanLen).as("__sh"))
      .select(col("id"),
        posexplode(shingleHashesHex(col("__sh"), hashHexDigits)))
    val verified = spans
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("col"))))
      .filter(col("__occ") > 1)
      .join(base, Seq("id"))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("__w"), col("pos") + lit(1),
          lit(spanLen))).as("__sp"))
      .withColumn("__vocc",
        count(lit(1)).over(Window.partitionBy(col("__sp"))))
      .filter(col("__vocc") > 1)
      .select(col("id"), col("pos"))
    (base, verified)
  }

  /** Collision-verified [[dupSpanStats]]: same output contract
    * (id, n_spans, n_dup_spans, dup_frac_e4), but `n_dup_spans`
    * counts spans whose TEXT occurs more than once — hash collisions
    * verified away (see [[verifiedSpanFrames]]). `n_spans` needs no
    * explode at all: it is `max(0, words - spanLen + 1)` per doc. */
  def dupSpanStatsVerified(df: DataFrame, idCol: String, textCol: String,
                           spanLen: Int = 8): DataFrame =
    dupSpanStatsVerifiedHashed(df, idCol, textCol, spanLen, 12)

  private[graft] def dupSpanStatsVerifiedHashed(df: DataFrame, idCol: String,
      textCol: String, spanLen: Int, hashHexDigits: Int): DataFrame = {
    val (base, verified) = verifiedSpanFrames(df, idCol, textCol, spanLen,
      hashHexDigits)
    val nSpans = base.select(col("id"),
      greatest(size(col("__w")) - (spanLen - 1), lit(0))
        .cast("long").as("n_spans"))
    val nDup = verified.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"))
    nSpans
      .join(nDup, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac_e4",
        when(col("n_spans") === 0, lit(0L))
          .otherwise(floor(col("n_dup_spans").cast("double") /
            col("n_spans") * 10000).cast("long")))
  }

  /** Collision-verified [[dupSpanRemove]]: same output contract
    * (id, clean_text, n_words, n_kept), but only TEXT-verified
    * duplicated spans are scrubbed — a 48-bit birthday collision no
    * longer deletes innocent words (see [[verifiedSpanFrames]]). */
  def dupSpanRemoveVerified(df: DataFrame, idCol: String, textCol: String,
                            spanLen: Int = 8): DataFrame =
    dupSpanRemoveVerifiedHashed(df, idCol, textCol, spanLen, 12)

  private[graft] def dupSpanRemoveVerifiedHashed(df: DataFrame, idCol: String,
      textCol: String, spanLen: Int, hashHexDigits: Int): DataFrame = {
    val (base, verified) = verifiedSpanFrames(df, idCol, textCol, spanLen,
      hashHexDigits)
    val dupStarts = verified.groupBy(col("id"))
      .agg(collect_set(col("pos")).as("__starts"))
    scrubSpans(base, dupStarts, idCol, spanLen)
  }
}
