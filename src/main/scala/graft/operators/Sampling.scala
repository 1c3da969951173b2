package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus sampling for dataset curation — seeded, so a sampling
  * decision is an artifact of the pipeline config, not of the run.
  * Both forms are narrow (per-row coin flips with a partition-stable
  * seed): no shuffle, no driver pass, any scale.
  */
object Sampling {

  /** Seeded Bernoulli sample (without replacement). */
  def bernoulli(df: DataFrame, fraction: Double, seed: Long): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Stratified sample: per-stratum keep fractions (e.g. downsample
    * boilerplate-heavy sources, keep all rare-language docs). Keys
    * absent from `fractions` are dropped — the common curation
    * default. */
  def stratified(df: DataFrame, keyCol: String,
                 fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(keyCol, fractions, seed)

  /** Deterministic hash sample: keeps a row iff md5(id) mod b < k —
    * unlike seeded RNG sampling this is stable across Spark versions,
    * engines, and row order, so it can be oracle-checked and
    * consistently re-derived (the trick behind stable eval-set
    * holdouts). Keeps ~k/b of rows. */
  def hashSample(df: DataFrame, idCol: String, keep: Int, outOf: Int): DataFrame =
    df.filter(Packing.shardId(idCol, outOf) < keep)

  /** Deterministic weighted source mixing: per-stratum keep
    * thresholds in basis points over the md5 shard of the id — the
    * hash-stable form of [[stratified]]. This is how training
    * mixtures are pinned ("30% of src A, 100% of src B"): the same
    * row keeps or drops regardless of engine, run, row order, or
    * cluster size, so a mixture is an auditable artifact of the
    * config. Keys absent from `keepBp` drop (curation default).
    * Narrow map, no shuffle, any scale. */
  def hashStratified(df: DataFrame, idCol: String, keyCol: String,
                     keepBp: Map[String, Int]): DataFrame = {
    val threshold = keepBp.foldLeft(lit(0)) { case (acc, (k, bp)) =>
      when(col(keyCol) === k, lit(bp)).otherwise(acc)
    }
    df.filter(Packing.shardId(idCol, 10000) < threshold)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * 2006 priority/exponential sampling) — the mixing primitive the
    * Bernoulli/quota samplers can't express: draw exactly `k` rows
    * where each row's inclusion odds are proportional to its weight
    * (tokens, quality, importance), no row twice. Each row gets an
    * exponential priority `-ln(u) / w` with `u` the md5-uniform of
    * its id in (0, 1]; the k SMALLEST priorities are the sample —
    * the classic distributed one-pass equivalent of sequential
    * weighted draws, and deterministic here because `u` is
    * hash-derived, not seeded randomness.
    *
    * Zero/negative weights never sample (their exponential rate is
    * degenerate) and are filtered with that documented meaning —
    * which also means the sample is `min(k, positive-weight rows)`:
    * fewer eligible rows than k return them ALL (a complete weighted
    * sample), not an error. A caller that needs exactly k (a fixed
    * mixing quota) should check the output count.
    *
    * Scale shape: one narrow projection (md5 + ln per row) into a
    * bounded TakeOrdered — no shuffle beyond the k-row merge,
    * stream-safe up to the final ordering. Engine-exact modulo a
    * last-ulp `ln` on hash-random priorities (adjacent-priority
    * collisions are measure-zero; id-asc breaks exact ties).
    * @return the selected rows as (idCol, weightCol) */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1)
    val u = (Packing.hash48(idCol) + lit(1L)).cast("double") /
      lit((1L << 48).toDouble)
    val pr = -log(u) / col(weightCol).cast("double")
    df.select(col(idCol), col(weightCol))
      .filter(col(weightCol) > 0)
      .withColumn("__pr", pr)
      .orderBy(col("__pr").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col(weightCol))
  }

  /** Stratified [[weightedSample]]: exactly `k` weighted draws
    * without replacement PER GROUP (per-language / per-source
    * selection quotas with length- or quality-proportional odds) —
    * the same Efraimidis–Spirakis priorities routed through the
    * bounded per-key [[TopK]] instead of a global TakeOrdered, so
    * the exchange carries ≤ k rows per group per task however large
    * the corpus or the group count. Groups with fewer than k
    * positive-weight rows return them all ([[weightedSample]]'s
    * min(k, eligible) contract, per group). The group key must be
    * integral (TopK's key contract).
    * @return (keyCol, idCol, rank) — rank 1..k by ascending priority */
  def weightedSamplePerKey(df: DataFrame, keyCol: String, idCol: String,
                           weightCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val u = (Packing.hash48(idCol) + lit(1L)).cast("double") /
      lit((1L << 48).toDouble)
    // TopK keeps the LARGEST round6(score)s — and the winning
    // exponential priorities cluster near zero, where round6's
    // ABSOLUTE 1e-6 grid would collapse them into id-order ties. The
    // score is therefore the NEGATED LOG priority: order-equivalent
    // (smallest priority = largest score), and round6 on the log
    // scale is 1 ppm RELATIVE priority resolution — collisions of
    // hash-random priorities are measure-zero at any magnitude.
    val score = -log(-log(u) / col(weightCol).cast("double"))
    TopK.perKey(
      df.filter(col(weightCol) > 0)
        .select(col(keyCol), col(idCol), score.as("__s")),
      keyCol, idCol, "__s", k)
      .select(col(keyCol), col(idCol), col("rank"))
  }

  /** Temperature-balanced class downsampling — the multilingual
    * mixing rule (mT5/XLM-R style, alpha = 0.5): a class with N_c
    * members keeps each row with probability min(1, k / sqrt(N_c)),
    * so kept counts grow ~sqrt(N_c) and head classes stop dominating
    * the mixture while tail classes pass through untouched.
    *
    * Engine-exact by construction: the per-class rate is computed
    * ONLY from that class's exact count with correctly-rounded IEEE
    * ops (sqrt, divide — both bit-identical across engines), floored
    * to ppm; the keep decision compares the row's md5 shard against
    * that integer. No cross-class float sum exists anywhere (a
    * normalized softmax-style rate would sum floats in
    * engine-dependent order), so the sample replays exactly in SQL.
    *
    * Scale shape: one map-combined count per class, the (tiny) rate
    * table broadcast-joins back, then a narrow filter — the corpus
    * never shuffles. */
  def temperatureSample(df: DataFrame, idCol: String, classCol: String,
                        k: Double): DataFrame = {
    val rates = df.groupBy(col(classCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rate_ppm",
        floor(least(lit(1.0), lit(k) / sqrt(col("__n").cast("double")))
          * 1000000).cast("long"))
      .select(col(classCol), col("__rate_ppm"))
    // 48-bit hash mod 1e6: residue bias 1e6/2^48 ~ 3.6e-9 (the
    // 24-bit shardId would carry a 6% residue bias at this modulus)
    df.join(broadcast(rates), classCol)
      .filter(Packing.hash48(idCol) % 1000000 < col("__rate_ppm"))
      .drop("__rate_ppm")
  }

  /** Exact quota sampling: exactly min(n, |stratum|) rows per
    * stratum, chosen by md5 order of the id — "take N of each
    * source/language" with a result that is a pure function of the
    * data. Scale shape: reuses [[TopK]]'s bounded partial aggregate,
    * so each map task forwards at most n rows per stratum and the
    * exchange never carries a whole stratum (the rank-window form
    * shuffles everything). The stratum key rides as a 48-bit md5
    * surrogate so it can be any type; an SQL replay must partition
    * on the same surrogate — a collision (~2^-48 per key pair) then
    * merges the same two strata in both engines rather than
    * diverging. `idCol` must be integral (TopK's contract), unique
    * within its stratum (a duplicated id would re-enter through the
    * semi-join past the quota), and non-null — rows with a null key
    * or id are dropped, where a SQL rank-window replay would rank
    * them. */
  def quotaSample(df: DataFrame, idCol: String, keyCol: String,
                  n: Int): DataFrame = {
    def h48(c: String) = Packing.hash48(c)
    val scored = df.select(
      h48(keyCol).as("__k"),
      col(idCol),
      // TopK ranks score DESC; negate so the SMALLEST id-hash wins
      (-h48(idCol).cast("double")).as("__score"))
    val picked = TopK.perKey(scored, "__k", idCol, "__score", n)
      .select(col("__k"), col(idCol))
    // picked is at most n * |strata| rows — broadcast semi-join back
    // on (stratum, id): joining on the id alone would readmit rows
    // from OTHER strata that happen to share an id value
    df.withColumn("__k", h48(keyCol))
      .join(broadcast(picked), Seq("__k", idCol), "left_semi")
      .drop("__k")
  }

  /** Importance-based data selection (the DSIR recipe — Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score each raw document by whether its
    * hashed-unigram profile looks more like a small target corpus
    * (quality exemplars) than like the raw corpus itself, then keep
    * high scorers. Features are hashed word buckets
    * (`hash48(word) mod buckets`). DSIR's per-gram summand
    * `log p_target(b) - log p_raw(b)` is replaced by its SIGN, so a
    * word votes +1/0/-1 and a document's score is an exact integer:
    * each bucket's vote is the cross-multiplied MLE comparison
    * `tc_b * Nr <> rc_b * Nt`, computed in BigInt — no float log
    * anywhere, where the float form can flip a keep/drop decision on
    * the last ulp of a libm log and an SQL replay would diverge. No
    * smoothing is needed for a sign: every SCORED bucket has
    * `rc_b >= 1` (the word came from the raw corpus), and a
    * target-absent bucket correctly votes -1 — while add-one
    * smoothing would let the pseudo-counts drown the signal whenever
    * the live vocabulary is much smaller than `buckets`. Output per
    * raw document: word count, vote score, and `keep = score > 0`
    * (more target-like than raw-like); resample/threshold downstream
    * as needed.
    *
    * Scale shape: two map-combined aggregations each emit at most
    * `buckets` rows (the ONLY driver data — two count tables of size
    * B); the vote table becomes a broadcast literal array and scoring
    * is a narrow fold over the word array at scan speed. The corpus
    * is scanned twice (count pass, score pass) and never shuffles on
    * text; the target side is tiny by construction. At 100 TB pass a
    * persisted raw frame so the two scans share the decode.
    */
  def importanceVotes(raw: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, buckets: Int = 4096): DataFrame = {
    import graft.functions.TextFunctions.words
    importanceVotesOfWords(
      raw.select(col(idCol), words(col(textCol)).as("__gvw")),
      target.select(col(idCol), words(col(textCol)).as("__gvw")),
      idCol, "__gvw", buckets)
  }

  /** [[importanceVotes]] over already-projected word-array columns
    * (both frames) — composed pipelines tokenize once (regex/HOF
    * expressions have no CSE). */
  def importanceVotesOfWords(raw: DataFrame, target: DataFrame, idCol: String,
                             wordsCol: String, buckets: Int = 4096): DataFrame = {
    def bucketCounts(df: DataFrame): Map[Int, Long] =
      df.select(explode(col(wordsCol)).as("__wd"))
        .select((Packing.hash48("__wd") % buckets).cast("int").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // <= B rows
    val tc = bucketCounts(target)
    val rc = bucketCounts(raw)
    val nt = BigInt(tc.values.sum)
    val nr = BigInt(rc.values.sum)
    val votes: Seq[Long] = (0 until buckets).map { b =>
      val t = BigInt(tc.getOrElse(b, 0L)) * nr
      val r = BigInt(rc.getOrElse(b, 0L)) * nt
      if (t > r) 1L else if (t < r) -1L else 0L
    }
    raw
      .select(col(idCol), col(wordsCol).as("__w"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        // codegen'd bucket fold (round 16) — same 48-bit md5 votes as
        // the interpreted HOF form it replaces, same SQL replay
        org.apache.spark.sql.graftglue.Bridge.column(
          graft.plans.BucketWeightSum(
            org.apache.spark.sql.graftglue.Bridge.expression(col("__w")),
            votes.toIndexedSeq)).as("score"))
      .withColumn("keep", (col("score") > 0).cast("int"))
  }

  /** Token-budget source mixing with epoch upsampling — the standard
    * LLM mixture recipe stated in TOKENS, not document fractions:
    * each source `s` gets a budget `B_s`; with `T_s` observed tokens
    * the source runs `e_s = B_s / T_s` epochs. A row is emitted
    * `floor(e_s)` times for the whole part (columns plus an `epoch`
    * index 0..k-1) and once more with probability `frac(e_s)` decided
    * by the row's md5 hash — so a source under budget downsamples and
    * a scarce high-quality source upsamples (repeats epochs), and the
    * realized token count concentrates tightly around `B_s`. Sources
    * absent from `budgets` drop (curation default); rows with a null
    * key drop.
    *
    * Engine-exact: per-source epoch rates are integer ppm computed by
    * BigInt floor division of EXACT token totals, and the fractional
    * keep compares the row's 48-bit md5 shard against the ppm
    * remainder — no float anywhere, so the emitted multiset replays
    * exactly in SQL (`budget * 1000000 // total`).
    *
    * Scale shape: one map-combined sum per source (the only driver
    * data — one row per source), then a narrow literal-CASE rate
    * lookup, hash filter, and sequence-explode. The corpus never
    * shuffles. Token totals must fit a signed 64-bit sum
    * (~9.2e18 — far past 100 TB of text).
    */
  def tokenBudgetMix(df: DataFrame, idCol: String, keyCol: String,
                     tokCol: String, budgets: Map[String, Long]): DataFrame = {
    val totals = df.groupBy(col(keyCol)).agg(sum(col(tokCol)).as("__t"))
      .collect()
      .flatMap(r => Option(r.getAs[String](0)).map(_ -> r.getLong(1))).toMap
    val ppm: Map[String, Long] = budgets.flatMap { case (k, b) =>
      totals.get(k).filter(_ > 0).map { t =>
        k -> (BigInt(b) * 1000000 / BigInt(t)).toLong
      }
    }
    // literal rate table: sources are few (a mixture config, not
    // data); -1 marks keys outside the budget map -> dropped
    val ppmExpr = ppm.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
      case (acc, (k, p)) => when(col(keyCol) === k, lit(p)).otherwise(acc)
    }
    val whole = (col("__ppm") - pmod(col("__ppm"), lit(1000000L))) / 1000000
    df.withColumn("__ppm", ppmExpr)
      .filter(col("__ppm") >= 0)
      .withColumn("__copies",
        whole.cast("long") +
          (Packing.hash48(idCol) % 1000000 <
            pmod(col("__ppm"), lit(1000000L))).cast("long"))
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__ppm", "__copies")
  }

  /** Epoch-capped token-budget WATERFILL — the planner that derives
    * the per-source budgets [[tokenBudgetMix]] consumes from ONE
    * global token budget: allocate `budget` tokens across sources
    * proportionally to sqrt(T_s) (the standard size-smoothing that
    * keeps big crawls from drowning small curated sources — the
    * alpha=0.5 point of temperature mixing), but never give a source
    * more than `maxEpochs` x its own tokens (repeating data beyond a
    * few epochs stops helping — Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": ~4 epochs is the knee).
    * Sources that hit their cap release budget to the rest — the
    * classic exact waterfill, computed here with windows over the
    * per-source table:
    *
    *  1. T_s = Σ weight per source (the only corpus-scale pass, one
    *     map-combined aggregation; everything after runs on a frame
    *     with ONE ROW PER SOURCE);
    *  2. w_s = isqrt(T_s) (exact integer sqrt — floor(sqrt) with a
    *     +-1 correction, so both engines agree bit-for-bit),
    *     cap_s = maxEpochs * T_s;
    *  3. sort by cap_s/w_s ascending (cheapest-to-cap first; source
    *     tiebreak): the capped set is a PREFIX of this order. Row k
    *     is capped iff every row j <= k satisfies
    *     cap_j * sufW_j <= (budget - prefixC_j) * w_j — the
    *     cumulative-AND prefix test of the waterfill fixpoint;
    *  4. uncapped rows get floor((budget - Σ capped caps) / Σ
    *     uncapped w * w_s) — fill-rate arithmetic in IEEE doubles
    *     with the IDENTICAL expression on both engines (division and
    *     multiply are correctly rounded, so the oracle replays
    *     bit-for-bit; products stay exact in doubles at word-count
    *     magnitudes).
    *
    * Output one row per source: (source, tokens, cap, capped,
    * alloc_tokens, epochs_e4 = alloc*10000 div tokens). Feed
    * `alloc_tokens` into [[tokenBudgetMix]] as the budgets map and
    * the mixture realizes the plan. Σ alloc <= budget (floors), off
    * by at most one token per uncapped source. */
  def budgetWaterfill(df: DataFrame, keyCol: String, weightCol: String,
                      budget: Long, maxEpochs: Int = 4): DataFrame = {
    require(budget >= 0, s"budgetWaterfill: negative budget $budget")
    require(maxEpochs >= 1, s"budgetWaterfill: maxEpochs must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val totals = df
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("source"))
      .agg(sum(col(weightCol).cast("long")).as("tokens"))
      .filter(col("tokens") > 0)
    // exact integer sqrt: floor(sqrt(double)) with +-1 correction
    val c0 = floor(sqrt(col("tokens").cast("double"))).cast("long")
    val base = totals
      .withColumn("__c0", c0)
      .withColumn("__w", when((col("__c0") + 1) * (col("__c0") + 1)
          <= col("tokens"), col("__c0") + 1)
        .when(col("__c0") * col("__c0") > col("tokens"), col("__c0") - 1)
        .otherwise(col("__c0")))
      .withColumn("cap", lit(maxEpochs.toLong) * col("tokens"))
      .drop("__c0")
    // ascending cap/weight = cheapest-to-cap first; the frame is one
    // row per source, so the constant-key window is the point
    val ord = Window.partitionBy(col("tokens") * 0)
      .orderBy((col("cap").cast("double") / col("__w").cast("double")).asc,
        col("source").asc)
    val prefixC = coalesce(sum(col("cap")).over(
      ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val sufW = sum(col("__w")).over(
      ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val staged = base
      .withColumn("__test",
        when(col("cap").cast("double") * sufW.cast("double")
          <= (lit(budget) - prefixC).cast("double") * col("__w").cast("double"),
          1L).otherwise(0L))
      .withColumn("capped", min(col("__test")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1L)
    val all = Window.partitionBy(col("tokens") * 0)
      .orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cappedC = coalesce(sum(when(col("capped"), col("cap"))).over(all), lit(0L))
    val uncW = coalesce(sum(when(!col("capped"), col("__w"))).over(all), lit(0L))
    staged
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap"))
          .otherwise(floor((lit(budget) - cappedC).cast("double")
            / uncW.cast("double") * col("__w").cast("double")).cast("long")))
      .select(col("source"), col("tokens"), col("cap"), col("capped"),
        col("alloc_tokens"),
        expr("alloc_tokens * 10000 div tokens").as("epochs_e4"))
  }

  /** Leakage-safe train/val/test split: assign whole NEAR-DUP
    * COMPONENTS to splits, never individual documents — a random
    * per-doc split puts one copy of a duplicated document in train
    * and another in test, and the eval leaks (the document-level
    * form of the contamination [[graft.operators.Decontaminate]]
    * removes at the n-gram level). Components come from the caller's
    * near-dup pair graph (winnow/minhash/embedding — any of the
    * Dedup candidate generators), resolved by
    * [[Dedup.connectedComponents]]; the split is then the md5 bucket
    * of the COMPONENT label, so every member of a component lands
    * together by construction, and the assignment is an
    * engine-portable pure function of the data ([[hashSample]]'s
    * discipline lifted from doc ids to component labels).
    *
    * Scale shape: component resolution is the dominant cost (see
    * [[Dedup.connectedComponents]]); the bucket assignment is
    * one narrow md5 projection. `trainUpTo`/`valUpTo` are bucket
    * thresholds out of `buckets` (defaults: 80/10/10).
    */
  def leakageSafeSplit(pairs: DataFrame, docs: DataFrame, idCol: String,
                       buckets: Int = 10, trainUpTo: Int = 8,
                       valUpTo: Int = 9): DataFrame = {
    require(0 < trainUpTo && trainUpTo <= valUpTo && valUpTo <= buckets,
      s"need 0 < trainUpTo <= valUpTo <= buckets, got " +
        s"$trainUpTo/$valUpTo/$buckets")
    val comp = Dedup.connectedComponents(pairs, docs, idCol)
      .select(col("id").as(idCol), col("component"))
    comp.withColumn("__b", Packing.shardId("component", buckets))
      .select(col(idCol), col("component"),
        when(col("__b") < trainUpTo, "train")
          .when(col("__b") < valUpTo, "val")
          .otherwise("test").as("split"))
  }
}
