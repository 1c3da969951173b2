package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.Curation

/** The fluent curation builder on planted data: each stage removes
  * exactly what it claims to. (The composed output is additionally
  * hash-pinned against DuckDB via the q_curate_e2e oracle.)
  */
class CurationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  // disjoint vocabulary per seed: docs overlap only where a test
  // plants the overlap explicitly
  private def doc(n: Int, seed: Int): String =
    (1 to n).map(t => s"s${seed}w$t").mkString(" ")

  test("quality filter drops short, long, and degenerate docs") {
    val docs = Seq(
      (1L, doc(60, 1)),                       // keep
      (2L, doc(5, 2)),                        // too short
      (3L, doc(400, 3)),                      // too long
      (4L, List.fill(60)("same").mkString(" ")) // no diversity
    ).toDF("doc_id", "text")
    val kept = Curation(docs, "doc_id", "text").qualityFilter()
      .docs.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("gopherFilter stage drops rule violators inside the chain") {
    val good = ("the cat sat of the mat and then ran to the barn " * 5).trim
    val docs = Seq(
      (1L, good),                                // passes all rules
      (2L, "the of short"),                      // word count
      (3L, ("cat mat sat ran barn " * 10).trim)  // no stopwords
    ).toDF("doc_id", "text")
    val kept = Curation(docs, "doc_id", "text").gopherFilter(minWords = 10)
      .docs.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("perplexityFilter keeps reference-like docs, drops junk") {
    val sent = "the quick fox jumps over the lazy dog"
    val ref = Curation((1L to 5L).map(i => (i, sent)).toDF("doc_id", "text"),
      "doc_id", "text").docs
    val docs = Seq(
      (1L, sent + " " + sent),          // in-model bigrams: low nll
      (2L, "zzz yyy xxx www vvv uuu")   // all-unknown: ~6.9 nats/token
    ).toDF("doc_id", "text")
    val kept = Curation(docs, "doc_id", "text")
      .perplexityFilter(ref, maxAvgNllE6 = 3000000L)
      .docs.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("nearDedup keeps the smallest id of a near-duplicate group") {
    val a = doc(80, 5)
    val nearA = a.split(" ").toSeq.updated(40, "zzz").mkString(" ") // ~1 word off
    val docs = Seq((10L, a), (11L, nearA), (12L, doc(80, 9)))
      .toDF("doc_id", "text")
    val kept = Curation(docs, "doc_id", "text").qualityFilter().nearDedup()
      .docs.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L))
  }

  test("decontaminate drops holdout members and 3-gram overlappers") {
    val evalText = doc(70, 21)
    val leaked = doc(35, 40) + " " + evalText.split(" ").take(10).mkString(" ")
    val docs = Seq(
      (1L, doc(60, 30)),   // clean -> survives
      (2L, leaked),        // shares eval 3-grams -> dropped
      (97L, evalText)      // the holdout member itself -> excluded
    ).toDF("doc_id", "text")
    val cur = Curation(docs, "doc_id", "text")
    val eval = cur.docs.filter(col("doc_id") === 97L)
    val kept = cur.qualityFilter().decontaminate(eval)
      .docs.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("instrumented pipeline reports per-stage survivor counts") {
    val a = doc(80, 50)
    val nearA = a.split(" ").toSeq.updated(40, "zzz").mkString(" ")
    val evalText = doc(70, 60)
    val leaked = doc(35, 61) + " " + evalText.split(" ").take(10).mkString(" ")
    val docs = Seq(
      (1L, doc(60, 51)),  // survives everything
      (2L, doc(5, 52)),   // quality: too short
      (10L, a),           // near-dup group survivor
      (11L, nearA),       // near-dup: dropped
      (20L, leaked),      // decontaminate: dropped
      (97L, evalText)     // holdout member: excluded
    ).toDF("doc_id", "text")
    val cur = Curation(docs, "doc_id", "text")
    val eval = cur.docs.filter(col("doc_id") === 97L)
    val done = cur.instrumented()
      .qualityFilter().nearDedup().decontaminate(eval)
    // metrics ride the stage-materializing jobs (Observation +
    // localCheckpoint); rows-in of stage N = rows-out of stage N-1
    assert(done.stageMetrics == Seq(
      "input" -> 6L,          // all docs
      "quality_filter" -> 5L, // doc 2 dropped
      "near_dedup" -> 4L,     // doc 11 dropped
      "decontaminate" -> 2L)) // holdout 97 + leaked 20 dropped
    assert(done.docs.select("doc_id").as[Long].collect().toSet == Set(1L, 10L))
    // release frees the four per-stage checkpoint RDDs a monitored
    // chain cached (repeated runs must not stack blocks)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    done.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore - 4)
    // uninstrumented: no metrics, identical survivors
    val plain = Curation(docs, "doc_id", "text")
      .qualityFilter().nearDedup().decontaminate(eval)
    assert(plain.stageMetrics.isEmpty)
    assert(plain.docs.select("doc_id").as[Long].collect().toSet == Set(1L, 10L))
  }

  /** Runs `f` and returns the ids of the RDDs that stored a cache
    * block meanwhile, and the number of Spark jobs it started. A
    * marker job flushes the listener queue: events arrive in order, so
    * its end comes after every earlier job start and block update. */
  private def sparkActivityDuring[T](f: => T): (T, Set[Int], Int) = {
    import org.apache.spark.scheduler._
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val group = "curation-spec-flush"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case org.apache.spark.storage.RDDBlockId(id, _)
            if e.blockUpdatedInfo.storageLevel.isValid => ids.add(id)
          case _ =>
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) markerJobs.add(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) flushed.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      spark.sparkContext.setJobGroup(group, "listener flush")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, ids.asScala.toSet, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a duplicated id comes out once per input row, not squared") {
    val dup = doc(60, 80) // shares no vocabulary with the other docs
    val evalText = doc(70, 82)
    val docs = Seq(
      (1L, doc(60, 81)),
      (5L, dup), (5L, dup), // one document ingested twice
      (97L, evalText)       // holdout member
    ).toDF("doc_id", "text")
    val cur = Curation(docs, "doc_id", "text")
    val eval = cur.docs.filter(col("doc_id") === 97L)
    val out = cur.qualityFilter().nearDedup().decontaminate(eval)
      .docs.select("doc_id").as[Long].collect().toSeq
    assert(out.sorted == Seq(1L, 5L, 5L))
  }

  test("documents with a null id are dropped by nearDedup and decontaminate") {
    val docs = Seq(
      (Option(1L), doc(60, 90)),
      (Option.empty[Long], doc(60, 91)),
      (Option(97L), doc(70, 92))
    ).toDF("doc_id", "text")
    val cur = Curation(docs, "doc_id", "text")
    val eval = cur.docs.filter(col("doc_id") === 97L)
    def ids(c: Curation) = c.docs.select("doc_id").as[Option[Long]].collect().toSeq
    assert(ids(cur.qualityFilter()).size == 3, "the quality filter keeps it")
    assert(ids(cur.qualityFilter().nearDedup()).sorted == Seq(Some(1L), Some(97L)))
    assert(ids(cur.qualityFilter().decontaminate(eval)) == Seq(Some(1L)))
  }

  test("nearDedup and decontaminate anti-join the removed ids: no join-back, no edge persist") {
    val a = doc(80, 100)
    val nearA = a.split(" ").toSeq.updated(40, "zzz").mkString(" ")
    val evalText = doc(70, 101)
    val leaked = doc(35, 102) + " " + evalText.split(" ").take(10).mkString(" ")
    // a parquet scan, not a local relation: the join strategies are
    // planned from file statistics, as on a real corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_plan").toString
    Seq((1L, doc(60, 103)), (10L, a), (11L, nearA), (20L, leaked),
      (97L, evalText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val filtered = Curation(docs, "doc_id", "text").qualityFilter()
    val eval = filtered.docs.filter(col("doc_id") === 97L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (deduped, stored, _) = sparkActivityDuring(filtered.nearDedup())
    // nearDedup stores one RDD, the pair checkpoint that component
    // resolution reads, and frees it before it returns: no token or
    // pair slot, no edge frame, nothing left behind
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"nearDedup left persisted RDDs behind: $added")
    assert(stored.size == 1, s"cached during nearDedup: $stored")
    assert(stored.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      s"the pair checkpoint $stored is still persisted")
    val out = deduped.decontaminate(eval).docs
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 10L))
    val plan = out.queryExecution.executedPlan
    val innerSmj = collect(plan) { case j: SortMergeJoinExec if j.joinType == Inner => j }
    assert(innerSmj.isEmpty, s"inner sort-merge join in the plan:\n$plan")
    // small inputs plan even a join-back as a broadcast join, so also
    // rule out any inner join keyed on the document id
    val idJoins = collect(plan) {
      case j: BaseJoinExec if j.joinType == Inner &&
        (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "doc_id")) => j
    }
    assert(idJoins.isEmpty, s"survivor join-back left in the plan:\n$plan")
    val nearDedupAnti = collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti &&
        j.rightKeys.exists(_.references.exists(_.name == "__removed")) => j
    }
    assert(nearDedupAnti.nonEmpty,
      s"near-dedup removal is not a broadcast anti-join:\n$plan")
  }

  test("qualityFilter().nearDedup() under the driver cap starts at most 4 Spark jobs") {
    // one job per exchange of the pair plan (the token rows' window on
    // the id, the self-join on the token, the pair aggregate) plus the
    // job that checkpoints and counts the pairs; the driver union-find
    // reads that checkpoint, so nothing re-runs the pair plan
    def edited(text: String, at: Int) =
      text.split(" ").toSeq.updated(at, s"edit$at").mkString(" ")
    val (a, b) = (doc(80, 110), doc(70, 111))
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_jobs").toString
    Seq((1L, a), (2L, edited(a, 40)), (3L, edited(a, 10)), (4L, b),
      (5L, edited(b, 30)), (6L, doc(60, 112)), (7L, doc(5, 113)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val cur = Curation(spark.read.parquet(dir), "doc_id", "text")
    val (deduped, _, jobs) = sparkActivityDuring(cur.qualityFilter().nearDedup())
    assert(jobs <= 4, s"qualityFilter().nearDedup() started $jobs jobs")
    assert(deduped.docs.select("doc_id").as[Long].collect().toSet == Set(1L, 4L, 6L))
  }

  test("spanFilter drops boilerplate-heavy docs; importanceSelect keeps target-like docs") {
    // docs 1/2 share a 40-word run on top of 40 private words
    // (dup_frac ~ 33/73 > 2500 bp); docs 3/4/99 are clean: 2/3 of
    // their words come from a small shared vocabulary (the importance
    // signal — votes are per WORD) and every 3rd word is a unique
    // per-doc filler, so every 8-gram contains fillers and no span
    // ever duplicates (a purely cyclic vocab doc would span-filter
    // itself away).
    def vocabDoc(prefix: String, id: Int): String =
      (1 to 60).map(t =>
        if (t % 3 == 0) s"f${id}x$t" else s"$prefix${t % 9}").mkString(" ")
    val run = (1 to 40).map(t => s"boiler$t").mkString(" ")
    val docs = Seq(
      (1L, doc(40, 70) + " " + run),
      (2L, doc(40, 71) + " " + run),
      (3L, vocabDoc("tw", 3)),
      (4L, vocabDoc("bw", 4)),
      (99L, vocabDoc("tw", 99)) // target exemplar
    ).toDF("doc_id", "text")
    val cur = Curation(docs, "doc_id", "text")
    val target = cur.docs.filter(col("doc_id") === 99L)
    val afterSpan = cur
      .spanFilter(spanLen = 8, maxDupFracE4 = 2500)
      .docs.select("doc_id").as[Long].collect().toSet
    assert(afterSpan == Set(3L, 4L, 99L), "shared-run docs dropped")
    val done = Curation(docs, "doc_id", "text").instrumented()
      .spanFilter(spanLen = 8, maxDupFracE4 = 2500)
      .importanceSelect(target)
    // doc 3 and the exemplar itself are target-vocabulary; doc 4 is not
    assert(done.docs.select("doc_id").as[Long].collect().toSet == Set(3L, 99L))
    assert(done.stageMetrics == Seq(
      "input" -> 5L, "span_filter" -> 3L, "importance_select" -> 2L))
    done.release()
  }

  test("classifierSelect keeps the docs the trained perceptron scores positive") {
    // labeled exemplars use disjoint good/bad vocabularies; corpus
    // docs draw from one side each — the trained filter must keep
    // exactly the good-vocabulary docs, and the stage must equal the
    // standalone operator's keep set
    def vdoc(prefix: String, seed: Int): String =
      (1 to 30).map(t => s"$prefix${(seed + t) % 13}").mkString(" ")
    val docs = Seq(
      (1L, vdoc("good", 1)), (2L, vdoc("good", 2)),
      (3L, vdoc("bad", 3)), (4L, vdoc("bad", 4))
    ).toDF("doc_id", "text")
    val labeled = Seq(
      (1, vdoc("good", 7)), (1, vdoc("good", 8)),
      (-1, vdoc("bad", 7)), (-1, vdoc("bad", 8))
    ).toDF("label", "text")
      .select(col("label"),
        graft.functions.TextFunctions.words(col("text")).as("__w"))
    val done = Curation(docs, "doc_id", "text").instrumented()
      .classifierSelect(labeled)
    assert(done.docs.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(done.stageMetrics == Seq("input" -> 4L, "classifier_select" -> 2L))
    done.release()
    // stage == standalone operator on the same inputs
    val w = graft.operators.Quality.trainPerceptronOfWords(
      labeled, "__w", "label")
    val standalone = graft.operators.Quality
      .scoreLinear(docs, "doc_id", "text", w)
      .filter(col("keep") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(standalone == Set(1L, 2L))
  }

  test("chunkStats totals equal the explode-form chunking") {
    val docs = (0 until 20).map(i => (i.toLong, doc(30 + i * 13, i)))
      .toDF("doc_id", "text")
    val stats = Curation(docs, "doc_id", "text").chunkStats(shards = 4)
      .agg(sum("sum_chunks"), sum("sum_tok")).head()
    // independent count via the text_chunk explode over the same docs
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_chunk").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exploded = graft.queries.TextQueries.queries("text_chunk")(spark, dir)
      .agg(count(lit(1)), sum("n_tokens")).head()
    assert(stats.getLong(0) == exploded.getLong(0))
    assert(stats.getLong(1) == exploded.getLong(1))
  }
}
