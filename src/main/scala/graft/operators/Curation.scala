package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.words

/** Fluent builder for the document-curation pipeline — the
  * raw-documents-to-training-data path as one composable value:
  *
  * {{{
  * Curation(docs, "doc_id", "text")
  *   .qualityFilter()                  // C4/Gopher doc-level rules
  *   .nearDedup()                      // winnow pairs -> components
  *   .decontaminate(evalDocs)          // 3-gram holdout overlap
  *   .docs                             // surviving documents
  * // or .chunkStats(shards = 8)       // per-shard training-sequence stats
  * }}}
  *
  * Each step narrows the carried frame; the word array is projected
  * once on construction and every stage consumes it instead of
  * re-tokenizing internally (regex/HOF expressions have no CSE — the
  * repo-wide rule). Plan branches that re-read the corpus (the
  * survivor join-back, the eval holdout) re-evaluate the projection
  * with the scan; pass a cached/persisted `docs` frame if that scan
  * is expensive. [[nearDedup]] and [[decontaminate]] have no
  * join-back: they left-anti-join the carried frame against the ids
  * they remove, so their only extra corpus read is the pair/gram
  * branch that finds those ids. The chain is lazy EXCEPT
  * [[nearDedup]] (component resolution runs at builder-call time: one
  * job checkpoints and counts the pair frame, then a collect of that
  * checkpoint under the driver cap, or the distributed fallback's
  * rounds beyond it, resolves the components; the checkpoint is freed
  * before the call returns) and [[importanceSelect]] (two bucket-count
  * aggregations collect at call time to build the vote table) —
  * everything else defers until the caller acts on the result.
  * `q_curate_e2e` is this builder's output verbatim and carries the
  * DuckDB oracle for it.
  */
final case class Curation private (private val df: DataFrame,
                                   idCol: String,
                                   private val instrument: Boolean,
                                   metrics: Seq[(String, Long)],
                                   private val ckpts: Seq[org.apache.spark.rdd.RDD[_]]) {

  /** Current surviving documents: (idCol, wc, __w word array). */
  def docs: DataFrame = df

  /** Switch on per-stage observability: every subsequent stage
    * materializes its survivors (localCheckpoint) with an
    * [[org.apache.spark.sql.Observation]] riding the SAME job — the
    * rows-in/rows-out monitoring surface a production curation run
    * needs, with zero extra scans (the Dedup components pattern).
    * The checkpoint is also what makes the counts safe: the carried
    * frame feeds several join branches downstream (dedup pairs + the
    * anti-join's stream side), and an un-checkpointed observe node
    * duplicated across branches would be rejected by the analyzer.
    * Costs one materialization per stage — the trade a monitored
    * production pipeline makes anyway (each stage is its restart
    * point).
    * Records the current survivor count as stage "input". */
  def instrumented(): Curation =
    copy(instrument = true).stage("input", df)

  /** Ordered (stage -> surviving rows) pairs; rows-in of stage N is
    * rows-out of stage N-1. Empty unless [[instrumented]]. */
  def stageMetrics: Seq[(String, Long)] = metrics

  private def stage(name: String, out: DataFrame): Curation =
    if (!instrument) copy(df = out)
    else {
      val o = org.apache.spark.sql.Observation()
      val observed = out
        .observe(o, count(lit(1)).as("rows_out"))
        .localCheckpoint() // eager: the observation fires on this job
      // remember the checkpoint's cached RDD so release() can free it;
      // it can't be unpersisted eagerly here — a localCheckpoint has
      // no lineage, so a caller branching off an earlier builder value
      // would fail, not recompute
      val rdd = observed.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      copy(df = observed,
        metrics = metrics :+ (name -> o.get("rows_out").asInstanceOf[Long]),
        ckpts = ckpts ++ rdd)
    }

  /** Free the per-stage checkpoint blocks an [[instrumented]] chain
    * accumulated (one MEMORY_AND_DISK RDD per stage). Call when done
    * with the chain's frames: repeated monitored runs (bench trials,
    * a production loop) would otherwise stack blocks until the driver
    * GCs the references. After release(), `docs` of this and every
    * ancestor builder value is invalid (checkpoints have no lineage
    * to recompute from). No-op on uninstrumented chains. */
  def release(): Unit = ckpts.foreach(_.unpersist(blocking = false))

  /** C4/Gopher-style document-level rules on the pre-projected
    * stats: word-count bounds, chars-per-word, lexical diversity. */
  def qualityFilter(minWords: Long = 30, maxWords: Long = 300,
                    maxCpwE4: Long = 80000, minDivE4: Long = 3000): Curation = {
    val cpwE4 = floor(col("n_chars").cast("double") / col("wc") * 10000)
      .cast("long")
    val divE4 = floor(col("dw").cast("double") / col("wc") * 10000)
      .cast("long")
    stage("quality_filter",
      df.filter(col("wc") >= minWords && col("wc") <= maxWords &&
        cpwE4 <= maxCpwE4 && divE4 >= minDivE4))
  }

  /** The full Gopher Appendix-A rule table ([[GopherRules]]) as a
    * pipeline stage — exact integer rule statistics over the shared
    * word array, keep = all rules pass. The heavier, literature-exact
    * sibling of [[qualityFilter]]'s three-ratio heuristic. */
  def gopherFilter(minWords: Long = 50, maxWords: Long = 100000,
                   minMeanLenE4: Long = 30000, maxMeanLenE4: Long = 100000,
                   minAlphaE4: Long = 8000, minStopHits: Long = 2,
                   maxSymbolE4: Long = 1000): Curation =
    stage("gopher_filter",
      GopherRules.ofWords(df, idCol, "__w", minWords, maxWords,
          minMeanLenE4, maxMeanLenE4, minAlphaE4, minStopHits, maxSymbolE4)
        .filter(col("keep") === 1)
        .select(col(idCol))
        .join(df, idCol))

  /** Near-duplicate removal: winnow-Jaccard candidate pairs over the
    * shared word arrays, connected components, survivor = min id.
    *
    * Only the removed ids are computed: the pair-graph nodes whose
    * component label is not themselves
    * ([[Dedup.connectedComponents]]'s endpoint labels), and the
    * corpus is left-anti-joined against them — every surviving row
    * passes through once, with no survivor join-back. While the pair
    * graph fits the driver cap the removed set is a local relation
    * from one bounded collect, so the anti-join broadcasts and the
    * corpus never shuffles. Documents with a null id are dropped
    * here (they cannot be resolved against a component). */
  def nearDedup(shingleLen: Int = 3, window: Int = 4,
                minJaccard: Double = 0.3): Curation = {
    val pairs = Dedup.winnowJaccardPairsOfWords(
      df, idCol, "__w", shingleLen, window, minJaccard)
    val removed = Dedup.endpointComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__removed"))
    stage("near_dedup",
      df.filter(col(idCol).isNotNull)
        .join(removed, col(idCol) === col("__removed"), "left_anti"))
  }

  /** Drop documents sharing any word n-gram with the eval holdout
    * (and holdout members themselves). `eval` needs (idCol, `__w`) —
    * build it from the same [[Curation.apply]] projection.
    *
    * The train side is left-anti-joined against the n-gram hit rows
    * ([[Decontaminate.overlapReportOfWords]]'s evidence, before its
    * per-document grouping): no contamination report over the whole
    * train set and no survivor join-back. The anti-join broadcasts the
    * hit ids when the planner's estimate for them fits the broadcast
    * threshold; otherwise it shuffles the train side once. Documents
    * with a null id are dropped, as the removal is keyed on id. */
  def decontaminate(eval: DataFrame, n: Int = 3): Curation = {
    // eval holdouts are tiny by construction — broadcast the anti-join
    // build side so the corpus never shuffles on id
    val evalIds = broadcast(eval.select(col(idCol)))
    val train = df.filter(col(idCol).isNotNull)
      .join(evalIds, Seq(idCol), "left_anti")
    val hits = Decontaminate.overlapHitsOfWords(train, eval, idCol, "__w", n)
      .select(col("id").as("__hit"))
    stage("decontaminate",
      train.join(hits, col(idCol) === col("__hit"), "left_anti"))
  }

  /** Drop documents whose duplicated-span fraction exceeds
    * `maxDupFracE4` basis points — the boilerplate guard
    * ([[Dedup.dupSpanStats]]: repeated `spanLen`-word runs, measured
    * within the CURRENT survivor set, so earlier stages' removals
    * don't count as duplication). */
  def spanFilter(spanLen: Int = 8, maxDupFracE4: Long = 5000): Curation =
    stage("span_filter",
      Dedup.dupSpanStatsOfWords(df, idCol, "__w", spanLen)
        .filter(col("dup_frac_e4") <= maxDupFracE4)
        .select(col(idCol))
        .join(df, idCol))

  /** Keep only documents scoring target-like under DSIR importance
    * votes ([[Sampling.importanceVotesOfWords]] against the current
    * survivors as the raw distribution). `target` needs
    * (idCol, `__w`) — build it from the same [[Curation.apply]]
    * projection. */
  def importanceSelect(target: DataFrame, buckets: Int = 4096): Curation =
    stage("importance_select",
      Sampling.importanceVotesOfWords(df, target, idCol, "__w", buckets)
        .filter(col("keep") === 1)
        .select(col(idCol))
        .join(df, idCol))

  /** Keep only documents whose bigram stupid-backoff NLL against a
    * trusted reference ([[LanguageModel.bigramNllOfWords]]) stays at
    * or under `maxAvgNllE6` micro-nats per token — the CCNet
    * perplexity gate. `ref` needs `__w` — build it from the same
    * [[Curation.apply]] projection. Documents with fewer than 2
    * words have no scored positions and are dropped (they carry no
    * LM evidence either way). */
  def perplexityFilter(ref: DataFrame, maxAvgNllE6: Long): Curation =
    stage("perplexity_filter",
      LanguageModel.bigramNllOfWords(df, idCol, "__w", ref, "__w")
        .filter(col("avg_nll_e6") <= maxAvgNllE6)
        .select(col(idCol))
        .join(df, idCol))

  /** Keep only documents the hashed-feature perceptron classifies
    * positive ([[Quality]] — the fastText-style filter), trained at
    * call time on a labeled exemplar frame. `labeled` needs
    * (`__w`, `labelCol` = +1/-1) — build it from the same
    * [[Curation.apply]] projection plus your label rule. Training
    * collects one bounded weight table per epoch; scoring is a
    * narrow fold over the carried word array. */
  def classifierSelect(labeled: DataFrame, labelCol: String = "label",
                       buckets: Int = 4096, epochs: Int = 2): Curation = {
    val w = Quality.trainPerceptronOfWords(
      labeled, "__w", labelCol, buckets, epochs)
    stage("classifier_select",
      Quality.scoreLinearOfWords(df, idCol, "__w", w)
        .filter(col("keep") === 1)
        .select(col(idCol))
        .join(df, idCol))
  }

  /** Per-shard training-sequence statistics for the surviving docs:
    * closed-form context-window chunk counts and token totals.
    * Wordless docs (null/empty text — `wc <= 0`) contribute nothing,
    * matching the explode-form chunker; with [[qualityFilter]] ahead
    * of this the guard never fires. */
  def chunkStats(shards: Int, winSize: Int = 50, stride: Int = 25): DataFrame = {
    val nChunks = (greatest(ceil((col("wc") - winSize).cast("double") / stride)
      .cast("long"), lit(0L)) + 1L).as("n_chunks")
    df.filter(col("wc") > 0)
      .select(col(idCol), col("wc"), nChunks)
      .withColumn("sum_tok",
        aggregate(
          sequence(lit(0L), (col("n_chunks") - 1) * stride, lit(stride.toLong)),
          lit(0L), (acc, st) => acc + least(lit(winSize.toLong), col("wc") - st)))
      .select(col(idCol), Packing.shardId(idCol, shards).as("shard"),
        col("n_chunks"), col("sum_tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("sum_chunks"),
        sum(col("sum_tok")).as("sum_tok"))
  }
}

object Curation {
  /** Project the curation working set once: id, char count, the word
    * array, and the derived counts every stage reads. */
  def apply(docs: DataFrame, idCol: String, textCol: String,
            nCharsCol: Column = null): Curation = {
    val nc = Option(nCharsCol).getOrElse(length(col(textCol)).cast("long"))
    Curation(
      docs.select(col(idCol), nc.as("n_chars"), words(col(textCol)).as("__w"))
        .select(col(idCol), col("n_chars"), col("__w"),
          size(col("__w")).cast("long").as("wc"),
          size(array_distinct(col("__w"))).cast("long").as("dw")),
      idCol, instrument = false, metrics = Nil, ckpts = Nil)
  }
}
