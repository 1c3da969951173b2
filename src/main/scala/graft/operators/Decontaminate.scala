package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{words, shinglesOfWords}

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with an evaluation set — the standard guard against
  * test-set leakage when assembling a training corpus (the n-gram
  * overlap rule used by public LM data pipelines).
  *
  * Scale shape: both sides reduce to distinct `(id, ngram)` pairs;
  * the contaminated set is an equi-join on the ngram. The eval side
  * is tiny by construction (benchmarks are thousands of documents,
  * the corpus is billions), so its ngrams are broadcast —
  * the 100 TB plan is one broadcast hash join over the train scan
  * plus one map-combined aggregation per train doc. Nothing shuffles
  * the corpus on text.
  */
object Decontaminate {

  /** Distinct `(id, gram)` pairs from a word-array column. */
  private def gramsOfWords(df: DataFrame, idCol: String, wordsCol: String,
                           n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_distinct(shinglesOfWords(col(wordsCol), n))).as("gram"))

  /** The contamination evidence itself: one `(id, gram)` row per
    * distinct train-document n-gram that also occurs in `eval` (the
    * train gram scan left-semi-joined against the broadcast eval
    * grams: a semi-join emits each train row at most once, so the eval
    * side needs no distinct aggregate). Clean documents have no row,
    * so an anti-join on `id` decontaminates without annotating — or
    * re-joining — the whole train set. */
  private[operators] def overlapHitsOfWords(train: DataFrame, eval: DataFrame,
                                            idCol: String, wordsCol: String,
                                            n: Int): DataFrame =
    gramsOfWords(train, idCol, wordsCol, n)
      .join(broadcast(gramsOfWords(eval, idCol, wordsCol, n).select(col("gram"))),
        Seq("gram"), "left_semi")
      .select(col("id"), col("gram"))

  /** Per-train-document contamination report: `n_shared` distinct
    * eval ngrams found in the document and a 0/1 `contaminated`
    * flag. Clean documents appear with `n_shared = 0`, so the output
    * is a total annotation of the train set (filter on
    * `contaminated = 0` to decontaminate).
    */
  def overlapReport(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame =
    overlapReportOfWords(
      train.select(col(idCol), words(col(textCol)).as("__gww")),
      eval.select(col(idCol), words(col(textCol)).as("__gww")),
      idCol, "__gww", n)

  /** [[overlapReport]] over already-projected word arrays — composed
    * pipelines tokenize once (regex expressions have no CSE). */
  def overlapReportOfWords(train: DataFrame, eval: DataFrame,
                           idCol: String, wordsCol: String,
                           n: Int = 3): DataFrame = {
    val hits = overlapHitsOfWords(train, eval, idCol, wordsCol, n)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared")) // grams are pre-distinct per id
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", (col("n_shared") > 0).cast("int"))
  }

  /** The PLANNER view of decontamination — a per-(group × eval-set)
    * contamination matrix instead of [[overlapReport]]'s per-document
    * flags: for every training group (source, domain, snapshot) and
    * every benchmark in the eval suite, how many of the group's
    * documents share an n-gram with that benchmark, and the rate in
    * basis points. This is the table a curation review reads BEFORE
    * choosing what to drop — one hot (source, benchmark) cell means
    * a leaked benchmark mirror in that source, while a uniform warm
    * row usually means the benchmark itself contains boilerplate.
    *
    * Scale shape: the whole eval SUITE's distinct (set, gram) pairs
    * broadcast (benchmarks are thousands of docs; a suite of them
    * still is), the corpus pays one FULL scan producing distinct
    * per-doc grams (parse + explode), one broadcast join, then
    * aggregation over (group, set, doc) hit triples — bounded by
    * contaminated docs × sets, tiny next to the corpus. The per-group
    * totals are a SECOND pass, but one that reads only the group
    * column — a pruned columnar scan, a fraction of a percent of the
    * gram pass's text bytes (persisting the words projection instead
    * would spill a corpus-sized cache to trade away that narrow
    * rescan: the rescan wins at the 100 TB shape). The final matrix
    * is |groups| × |sets| rows: driver-scale by construction.
    *
    * @param evals eval suite with a set-label column — union the
    *              individual benchmarks with a literal label
    * @return (groupCol, eval_set, n_docs, n_contam, contam_rate_e4),
    *         a dense matrix (0-hit cells present)
    */
  def contaminationMatrix(train: DataFrame, groupCol: String,
                          evals: DataFrame, setCol: String,
                          idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    val tw = train.select(col(groupCol).as("__grp"), col(idCol).as("id"),
      words(col(textCol)).as("__w"))
    // group-column-only projection for the totals pass: the pruned
    // scan reads none of the text bytes the gram pass parses
    val tg = train.select(col(groupCol).as("__grp"))
    val evalGrams = broadcast(
      evals.select(col(setCol).as("eval_set"),
          explode(array_distinct(
            shinglesOfWords(words(col(textCol)), n))).as("gram"))
        .distinct())
    val contam = tw
      .select(col("__grp"), col("id"),
        explode(array_distinct(shinglesOfWords(col("__w"), n))).as("gram"))
      .join(evalGrams, Seq("gram"))
      .select(col("__grp"), col("eval_set"), col("id")).distinct()
      .groupBy(col("__grp"), col("eval_set"))
      .agg(count(lit(1)).as("n_contam"))
    val totals = tg.groupBy(col("__grp")).agg(count(lit(1)).as("n_docs"))
    // sets come from the eval SUITE itself, not its grams: a
    // benchmark whose items are all shorter than n words still owns
    // a (trivially clean) matrix row — the dense-matrix contract
    val sets = evals.select(col(setCol).as("eval_set")).distinct()
    totals.crossJoin(broadcast(sets))
      .join(contam, Seq("__grp", "eval_set"), "left")
      .select(col("__grp").as(groupCol), col("eval_set"), col("n_docs"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contam_rate_e4", expr("n_contam * 10000 div n_docs"))
  }

  /** The REWRITE half of decontamination — scrub the LEAK, keep the
    * document: remove every word that lies inside an n-gram shared
    * with the eval set and emit the cleaned text, instead of
    * dropping whole documents (the Dolma/OLMo-style contamination
    * span removal — a long document with one leaked benchmark
    * passage keeps its unleaked prose). Longer grams than the flag
    * pass ([[overlapReport]]'s default 3): a scrub that fires on
    * common short grams would eat ordinary text, so published
    * scrubbers match long spans (13-gram in the GPT-3 filtering
    * appendix); default 8 here.
    *
    * Scale shape: the eval gram set broadcasts exactly as in
    * [[overlapReport]]; the corpus pays one scan producing
    * (position, gram) pairs, the broadcast join keeps contaminated
    * START positions, and those (id, starts) rows — bounded by the
    * eval grams' occurrence count in the corpus, tiny next to the
    * corpus because eval sets are — broadcast BACK for the rewrite,
    * so the document text itself never enters an exchange (unlike
    * [[Dedup.dupSpanRemoveOfWords]], whose start table is
    * corpus-sized and must shuffle-join). The rewrite is the same
    * doc-local array filter — O(words × leak-starts) per doc.
    * @return (idCol, clean_text, n_words, n_kept) — total annotation
    *         of the train set (clean docs pass through verbatim) */
  def scrubOverlaps(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame =
    scrubOverlapsOfWords(
      train.select(col(idCol), words(col(textCol)).as("__gsw")),
      eval.select(col(idCol), words(col(textCol)).as("__gsw")),
      idCol, "__gsw", n)

  /** [[scrubOverlaps]] over already-projected word arrays. */
  def scrubOverlapsOfWords(train: DataFrame, eval: DataFrame,
                           idCol: String, wordsCol: String,
                           n: Int = 8): DataFrame = {
    val evalGrams = broadcast(
      gramsOfWords(eval, idCol, wordsCol, n).select(col("gram")).distinct())
    val base = train.select(col(idCol).as("id"), col(wordsCol).as("__w"))
    val starts = base
      .select(col("id"),
        posexplode(shinglesOfWords(col("__w"), n)).as(Seq("pos", "gram")))
      .join(evalGrams, Seq("gram"))
      .groupBy(col("id"))
      .agg(collect_set(col("pos")).as("__starts"))
    base
      .join(broadcast(starts), Seq("id"), "left")
      // 0-based starts; leak at p covers word indices [p, p + n)
      .withColumn("__st", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__w"), (wd, i) =>
        !exists(col("__st"), p => p <= i && i < p + n)))
      .select(col("id").as(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__w")).cast("long").as("n_words"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** SEMANTIC decontamination — the embedding-space sibling of
    * [[overlapReport]]: n-gram overlap misses paraphrased or
    * translated test material, so modern pipelines ALSO flag train
    * items whose embedding sits within a cosine radius of any eval
    * item. Per train vector: how many eval vectors clear
    * `minCosine`, and the max similarity found (null when none).
    *
    * Scale shape: identical to the n-gram form — the eval side is
    * benchmark-sized, so its vectors broadcast, and the corpus pays
    * ONE narrow scan with |eval| codegen'd dot products per row
    * (BroadcastNestedLoopJoin on the threshold predicate; no corpus
    * shuffle, no all-pairs stage). The similarity ships at 6 dp with
    * NO second rounding: round6 values agree across engines, but a
    * round6 result landing exactly on a 4 dp half-boundary (x.xxxx50)
    * re-rounds differently per engine (Spark's BigDecimal-via-string
    * vs rounding the binary double — observed at sf0.1), the classic
    * double-rounding hazard.
    * @return (idCol, n_close, max_sim 6dp) for every train vector */
  def semanticOverlapReport(train: DataFrame, eval: DataFrame,
                            idCol: String, vecCol: String,
                            minCosine: Double): DataFrame = {
    val ev = broadcast(eval.select(col(vecCol).as("__ev")))
    val tr = train.select(col(idCol).as("id"), col(vecCol).as("__tv"))
    val sim6 = round(Similarity.cosine(col("__tv"), col("__ev")), 6)
    val hits = tr.join(ev, sim6 >= minCosine)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_close"), max(sim6).as("__mx"))
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        col("__mx").as("max_sim"))
  }
}
