package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PersistSlots}

/** Round-7 hardening specs: the PersistSlots reuse path (the bench's
  * median-of-3 depends on trials 2-3 hitting the slot, and a
  * canonicalization break would silently turn every trial cold).
  */
class Round7OpsSpec extends SparkSpec {

  import spark.implicits._

  test("PersistSlots reuses an identical plan and evicts a different one") {
    val (h0, m0) = PersistSlots.stats
    val mk = () => spark.range(100).toDF("id").select((col("id") * 2).as("x"))
    val a = PersistSlots.swap("spec.reuse", mk())
    a.count() // materialize the cache
    // a REBUILT identical plan (fresh DataFrame object, fresh expr
    // ids — exactly what a bench re-trial constructs) must return the
    // already-persisted frame, not re-persist
    val b = PersistSlots.swap("spec.reuse", mk())
    val (h1, m1) = PersistSlots.stats
    assert(m1 - m0 == 1, "first build should miss")
    assert(h1 - h0 == 1, "identical rebuild should hit")
    assert(b eq a, "hit must return the cached frame itself")
    // a genuinely different plan evicts and re-persists
    val c = PersistSlots.swap("spec.reuse",
      spark.range(100).toDF("id").select((col("id") * 3).as("x")))
    val (_, m2) = PersistSlots.stats
    assert(m2 - m1 == 1, "different plan should miss and evict")
    c.unpersist()
  }

  test("trainNgrams pruning: exact survivor maps, stable backoff total, bounded drift") {
    import graft.operators.LanguageModel
    // skewed reference: "a b" repeats heavily, "x y" appears once
    val ref = (Seq.fill(10)("a b a b a b") ++ Seq("x y a b")).toDF("text")
    val unpruned = LanguageModel.trainNgrams(ref, "text", order = 2)
    val floored = LanguageModel.trainNgrams(ref, "text", order = 2, minCount = 2)
    // the floor keeps exactly the unpruned entries with c >= 2, and
    // the exact token total survives pruning (backoff mass is corpus
    // mass, not surviving-entry mass)
    assert(floored.tables(0) == unpruned.tables(0).filter(_._2 >= 2))
    assert(floored.tables(1) == unpruned.tables(1).filter(_._2 >= 2))
    assert(floored.total == unpruned.total)
    assert(!floored.tables(1).contains("x y") && unpruned.tables(1).contains("x y"))
    // top-M cap: TakeOrdered by (count desc, gram asc) — the two
    // heaviest unigrams are a and b
    val capped = LanguageModel.trainNgrams(ref, "text", order = 2, maxEntries = 2)
    assert(capped.tables(0).keySet == Set("a", "b"))
    // scoring drift: documents built only of surviving grams score
    // IDENTICALLY; a doc with a pruned bigram drifts by at most the
    // per-token worst case |ln(c12/c1) - ln(0.4 c2/total)|
    val docs = Seq((1L, "a b a b"), (2L, "x y")).toDF("doc_id", "text")
    def score(m: LanguageModel.NgramModel) =
      LanguageModel.ngramNllNarrow(docs, "doc_id", "text", m)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val s0 = score(unpruned)
    val s1 = score(floored)
    assert(s0(1L) == s1(1L), "surviving-gram docs must score unchanged")
    // "x y" unpruned: c12=1, c1=1 -> cost -ln(1) = 0. After the floor
    // both the bigram AND y's unigram are gone, so the position takes
    // the unknown-word path exactly: floor(1e6 * -ln(0.4/(total*10)))
    assert(s0(2L) == 0L)
    assert(s1(2L) ==
      math.floor(1e6 * -math.log(0.4 / (unpruned.total * 10.0))).toLong)
  }

  test("brute-force embedding dedup refuses oversized corpora, naming the LSH twin") {
    import graft.operators.Similarity
    val df = (1 to 50)
      .map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      Similarity.embeddingNearDupPairs(df, "id", "v",
        minCosine = 0.9, maxRows = 10))
    assert(e.getMessage.contains("embeddingNearDupPairsLSH"))
    // under the cap it still runs
    assert(Similarity.embeddingNearDupPairs(df, "id", "v",
      minCosine = 0.99, maxRows = 100).count() > 0)
  }

  test("BPE local and distributed training produce identical merge lists") {
    import graft.operators.Bpe
    // adversarial vocab: overlap runs, ties (forcing the byte-order
    // tiebreak), multi-char fused symbols re-merging in later rounds
    val wf = Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L),
      ("aaaa", 4L), ("abab", 4L), ("zz", 1L), ("Zz", 1L)
    ).toDF("word", "freq")
    def lst(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val local = lst(Bpe.trainLocal(wf, "word", "freq", nMerges = 10))
    val dist = lst(Bpe.trainDistributed(wf, "word", "freq", nMerges = 10))
    assert(local == dist)
    assert(local.size == 10)
    // the public entry routes vocab-sized tables to the local loop
    assert(lst(Bpe.train(wf, "word", "freq", nMerges = 10)) == local)
  }

  test("PageRank: integer fixed point matches the hand-computed star graph") {
    import graft.operators.PageRank
    // 3-node star: both a and c point at b; b points at a. One
    // isolated node d keeps the damping base.
    val edges = Seq(("a", "b"), ("c", "b"), ("b", "a")).toDF("s", "t")
    val nodes = Seq("a", "b", "c", "d").toDF("n")
    val r = PageRank.ranks(edges, "s", "t", nodes, "n", iters = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val S = PageRank.SCALE
    val base = (S * 15 / 100) / 4
    val r0 = S / 4
    // after one round: b receives a+c (deg 1 each), a receives b
    assert(r("b") == base + 85 * (r0 + r0) / 100)
    assert(r("a") == base + 85 * r0 / 100)
    assert(r("c") == base, "c has no in-edges: damping base only")
    assert(r("d") == base, "isolated node keeps the damping base")
    // mass never exceeds SCALE (conservation-or-leak), all ranks > 0
    val r5 = PageRank.ranks(edges, "s", "t", nodes, "n", iters = 5)
      .collect().map(_.getLong(1))
    assert(r5.sum <= S && r5.forall(_ > 0))
  }

  test("leakage-safe split keeps every near-dup pair inside one split") {
    import graft.operators.Sampling
    val docs = (1 to 60)
      .map(i => (i.toLong, (1 to 25).map(t => s"g${i % 9}t$t").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, window = 4, minJaccard = 0.3)
    val split = Sampling.leakageSafeSplit(pairs, docs, "doc_id")
    assert(split.count() == 60, "every doc gets a split")
    // the leakage property: no candidate pair straddles two splits
    val straddlers = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddlers.count() == 0, "near-dup pair straddled splits")
    // the assignment is the deterministic md5 bucket of the component
    // label — recompute it driver-side and compare exactly (groups
    // are i%9, so component labels are the min ids 1..9)
    def bucket(label: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(label.toString.getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 10
    }
    val expected = (1L to 60L).map { id =>
      val comp = ((id - 1) % 9) + 1 // min doc id of id's group
      id -> (bucket(comp) match {
        case b if b < 8 => "train"
        case 8 => "val"
        case _ => "test"
      })
    }.toMap
    val got = split.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == expected)
  }

  test("count-min sketch: lower bound exact, upper bound eps*n, merge-order free") {
    import graft.functions.CountMin
    val keys = (1 to 2000).map(i => s"k${i % 37}") // skewed 37-key vocab
    val df = keys.toDF("k")
    val cms = CountMin.sketch(df.repartition(13), "k", eps = 0.01, delta = 0.02)
    val cms2 = CountMin.sketch(df.repartition(3), "k", eps = 0.01, delta = 0.02)
    // element-wise-sum merges: the grid is partition-layout free
    assert(cms.counters.sameElements(cms2.counters))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = keys.size
    exact.foreach { case (k, c) =>
      val est = cms.estimate(k)
      assert(est >= c, s"CMS underestimated $k")
      assert(est <= c + math.ceil(0.01 * n).toLong, s"CMS blew its bound on $k")
    }
    // an unseen key estimates at most the collision mass, bounded too
    assert(cms.estimate("never-seen") <= math.ceil(0.01 * n).toLong)
  }

  test("streaming CMS ingest is bit-identical to the batch sketch") {
    import graft.functions.CountMin
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val keys = (1 to 900).map(i => s"t${i % 23}")
    val acc = new CountMin.SketchAccumulator(eps = 0.01, delta = 0.02)
    val input = MemoryStream[String]
    val q = input.toDF().toDF("k").writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        acc.ingest(b, "k", id))
      .start()
    try {
      keys.grouped(300).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = CountMin.sketch(keys.toDF("k"), "k", eps = 0.01, delta = 0.02)
    assert(acc.snapshot.counters.sameElements(batch.counters),
      "micro-batched grid must equal the one-pass batch grid")
    // replaying an already-seen batchId must not double-count
    acc.ingest(keys.take(10).toDF("k"), "k", 0L)
    assert(acc.snapshot.counters.sameElements(batch.counters))
  }

  test("winnowJaccardPairs persists nothing") {
    // 7 groups of identical docs over disjoint vocabularies: every
    // within-group pair and no other, at jaccard 1: residues 1-5 hold
    // 6 docs each, 0 and 6 hold 5, so 5 * C(6, 2) + 2 * C(5, 2) = 95
    val docs = (1 to 40)
      .map(i => (i.toLong, (1 to 30).map(t => s"d${i % 7}w$t").mkString(" ")))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val slots = PersistSlots.stats
    val pairs = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, window = 4, minJaccard = 0.3)
    assert(pairs.count() == 95L)
    assert(pairs.filter(col("jaccard") =!= 1.0).isEmpty)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"persisted: $added")
    assert(PersistSlots.stats == slots, "a session slot was swapped")
  }

  // ---- snapshot drift (Drift.scala) ----

  test("PSI of a snapshot against itself is exactly zero") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = graft.operators.Drift.psiNumeric(ev, ev, "value", 25.0)
      .agg(sum(col("contrib_e6")), count(lit(1))).collect()(0)
    // p == q in every bucket -> ln 1 == 0 exactly, floor(0) == 0
    assert(out.getLong(0) == 0L)
    assert(out.getLong(1) > 1, "needs multiple occupied buckets")
  }

  test("PSI flags a genuinely shifted numeric distribution") {
    import spark.implicits._
    val ref = (1 to 2000).map(i => (i % 100).toDouble).toDF("v")
    val cur = (1 to 2000).map(i => (i % 100).toDouble + 150.0).toDF("v")
    val psi = graft.operators.Drift.psiNumeric(ref, cur, "v", 25.0)
      .agg(sum(col("contrib_e6"))).collect()(0).getLong(0)
    // disjoint supports: PSI far above the 0.25 "re-tune" rule of thumb
    assert(psi > 250000L, s"got $psi")
  }

  test("JS divergence is zero on identical mixes, bounded by ln 2, symmetric") {
    import spark.implicits._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert(graft.operators.Drift.jsCategorical(ev, ev, "event_type")
      .agg(sum(col("contrib_e6"))).collect()(0).getLong(0) == 0L)
    val a = (1 to 500).map(_ => "x").toDF("k")
    val b = (1 to 500).map(_ => "y").toDF("k")
    val ab = graft.operators.Drift.jsCategorical(a, b, "k")
      .agg(sum(col("contrib_e6"))).collect()(0).getLong(0)
    val ba = graft.operators.Drift.jsCategorical(b, a, "k")
      .agg(sum(col("contrib_e6"))).collect()(0).getLong(0)
    assert(ab == ba, "JS is symmetric")
    // disjoint categories: close to the ln 2 ceiling, never above it
    // (per-key floors can undershoot by up to one micro-unit each)
    assert(ab <= 693148L && ab > 600000L, s"got $ab")
  }

  // ---- sentence-granularity duplication (Dedup.segmentDupStats) ----

  test("segment dup stats count cross-doc sentences, not in-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the shared cookie banner sentence. unique alpha prose here."),
      (2L, "the shared cookie banner sentence. unique beta narrative text."),
      (3L, "entirely original content with nothing repeated anywhere."),
      // in-doc repeat only: must NOT count as duplicated
      (4L, "repeat me exactly once more. repeat me exactly once more. " +
        "repeat me exactly once more. closing words stay unique.")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDupStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L, 1L, 5000L)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 5000L)))
    assert(out(3L)._2 == 0L)
    // distinct (doc, hash) collapses the in-doc triple repeat to one
    // segment; no other doc contains it, so nothing is duplicated
    assert(out(4L) == ((2L, 0L, 0L)), s"got ${out(4L)}")
  }

  test("segment dup stats keep every input doc (total annotation)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Dedup.segmentDupStats(docs, "doc_id", "text")
    assert(out.count() == docs.count())
    assert(out.filter(col("dup_frac_e4") > 0).count() >= 0) // shape only
  }

  // ---- keyed snapshot diff (SnapshotDiff.scala) ----

  test("snapshot diff emits added/removed/changed and drops unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val cur = Seq((1L, "a", 10L), (2L, "b", 99L), (4L, "d", 40L))
      .toDF("k", "s", "v")
    val out = graft.operators.SnapshotDiff
      .diff(old, cur, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("snapshot diff fingerprint distinguishes null position") {
    import spark.implicits._
    val old = Seq((1L, Some("x"), Option.empty[String])).toDF("k", "a", "b")
    val cur = Seq((1L, Option.empty[String], Some("x"))).toDF("k", "a", "b")
    val out = graft.operators.SnapshotDiff
      .diff(old, cur, Seq("k"), Seq("a", "b")).collect()
    assert(out.length == 1 && out(0).getString(1) == "changed")
  }

  // ---- scalar quantization (SQ.scala) ----

  test("SQ codes stay in 0..255 and reconstruct within one half-step") {
    import graft.operators.SQ
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bounds = SQ.fit(emb, "embedding", 64)
    assert(bounds.dim == 64)
    assert(bounds.lo.zip(bounds.hi).forall { case (l, h) => l <= h })
    val coded = SQ.encode(emb, "vec_id", "embedding", bounds)
    val flat = coded.select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(flat.getLong(0) >= 0L && flat.getLong(1) <= 255L)
    // reconstruction error bound: |v - recon| <= ceil(step/2) + 1
    // per dimension (integer midpoint of the code's cell)
    val r = SQ.reconstruct(coded, bounds)
      .join(emb.select(col("vec_id"),
        graft.operators.KMeans.quantize(col("embedding")).as("__q")), "vec_id")
      .select(explode(arrays_zip(col("__q"), col("__r"))).as("z"))
      .select(abs(col("z.__q") - col("z.__r")).as("err"))
      .agg(max(col("err"))).head().getLong(0)
    val maxStep = bounds.lo.zip(bounds.hi).map { case (l, h) => h - l }.max
    assert(r <= maxStep / 510 + 2, s"recon err $r vs step bound")
  }

  test("SQ ADC top-1 recall vs exact cosine is high on the fixture") {
    import graft.operators.{SQ, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 16)
    val bounds = SQ.fit(emb, "embedding", 64)
    val coded = SQ.encode(emb, "vec_id", "embedding", bounds)
    val adc = SQ.adcTopK(q, coded, "vec_id", "vec_id", "embedding", bounds,
        k = 5).filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("adc_nn"))
    // ADC ranks by raw dot (unnormalized), so compare against the
    // exact top-5 dot-product shortlist, not cosine rank-1
    val exactTop = Similarity.bruteForceTopK(q, emb,
        "vec_id", "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hit = adc.join(exactTop,
      adc("query_id") === exactTop("query_id") &&
        adc("adc_nn") === exactTop("neighbor_id")).count()
    assert(hit >= 12, s"ADC top-1 in exact top-5 for only $hit/16 queries")
  }

  // ---- hard-negative mining (Similarity.hardNegatives) ----

  test("hard negatives never share the query's label") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.hardNegatives(
      emb.filter(col("vec_id") < 8), emb,
      "vec_id", "vec_id", "embedding", "label", k = 10)
    assert(out.count() == 80)
    val labels = emb.select(col("vec_id"), col("label"))
    val shared = out
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("ql")), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
      .filter(col("ql") === col("nl")).count()
    assert(shared == 0)
  }

  // ---- CCNet head/middle/tail buckets (LanguageModel.ccnetBuckets) ----

  test("ccnet buckets split at exact NLL terciles, head lowest") {
    import graft.operators.LanguageModel
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = LanguageModel.trainNgrams(
      docs.filter(col("doc_id") % 5 === 0), "text", order = 2)
    val out = LanguageModel.ccnetBuckets(docs, "doc_id", "text", model)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == docs.count())
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // ordering: every head NLL <= every middle NLL <= every tail NLL
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // tercile sizes: each bucket within one value-tie of n/3
    val n = rows.length
    assert(byBucket("head").length >= n / 4 &&
      byBucket("head").length <= n / 2,
      s"head=${byBucket("head").length} of $n")
  }

  // ---- sparse TF-IDF cosine pairs (SparseSim.scala) ----

  test("tfidf cosine pairs are symmetric-canonical and bounded") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.SparseSim.tfidfCosinePairs(
      docs, "doc_id", "text", minCos = 0.5, maxDocFreq = 40)
    val rows = out.collect()
    assert(rows.nonEmpty, "expected some near-pairs on the fixture")
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r =>
      val c = r.getDouble(2); c >= 0.5 && c <= 1.0001 })
  }

  // ---- PCA power iteration (PCA.scala) ----

  test("PCA finds the dominant-variance axis") {
    import spark.implicits._
    import graft.operators.PCA
    // dim 0 carries all the variance; others are constant or tiny
    val rows = (0 until 40).map { i =>
      (i.toLong, Array(i.toFloat - 20f, 0.001f * (i % 3), 0.5f, -0.25f))
    }
    val df = rows.toDF("id", "vec")
    val v = PCA.fitTop(df, "vec", 4, iters = 4)
    assert(math.abs(v(0)) > 100 * math.max(1L, math.abs(v(1))),
      s"dim0 should dominate: $v")
    assert(v(0) > 0, "sign convention: dominant component positive")
    // projection order matches the dominant axis order
    val proj = PCA.project(df, "id", "vec", v)
      .orderBy(col("proj")).select(col("id")).as[Long].collect()
    assert(proj.toSeq == (0L until 40L), s"got ${proj.toSeq}")
  }

  test("PCA moments accumulate across partitions exactly") {
    import spark.implicits._
    import graft.operators.PCA
    val df = (1 to 100).map(i => (i.toLong, Array(i.toFloat, -i.toFloat)))
      .toDF("id", "vec").repartition(7)
    val m = PCA.moments(df, "vec", 2)
    val qs = (1 to 100).map(i => (i * 1000L, math.floor(-i * 1000.0).toLong))
    assert(m.n == 100)
    assert(m.sums == Seq(qs.map(_._1).sum, qs.map(_._2).sum))
    assert(m.scatter(0) == qs.map(q => q._1 * q._1).sum)
    assert(m.scatter(1) == qs.map(q => q._1 * q._2).sum)
  }

  test("identical documents score tfidf cosine 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare alpha beta gamma delta unique"),
      (2L, "rare alpha beta gamma delta unique"),
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val out = graft.operators.SparseSim.tfidfCosinePairs(
      docs, "doc_id", "text", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("binary signature: identical vectors share sigs, opposite vectors complement") {
    import spark.implicits._
    import graft.operators.Binary
    val v = Array.tabulate(8)(i => (0.1f * (i + 1)) * (if (i % 2 == 0) 1 else -1))
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_)))
      .toDF("id", "vec")
    val sigs = Binary.signature(df, "id", "vec", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L), "identical vectors must share a signature")
    // the negated vector flips every strict sign; ties (projection
    // exactly 0) would break the complement, but these projections
    // are nonzero — distance must be the full 64 bits
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) == 64)
  }

  test("hamming top-k ranks the near-duplicate first") {
    import spark.implicits._
    import graft.operators.Binary
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val far = base.map(-_)
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("id", "vec")
    val top = Binary.hammingTopK(df.filter(col("id") === 0), df,
        "id", "id", "vec", 16, k = 2)
      .orderBy(col("rank")).collect()
    assert(top(0).getLong(1) == 1L, "near-dup must rank first")
    assert(top(0).getLong(2) == 64L, "a 0.001 nudge should not flip a bit here")
    assert(top(1).getLong(1) == 2L)
  }

  test("hamming rerank recovers exact cosine order on the shortlist") {
    import spark.implicits._
    import graft.operators.Binary
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val near = base.map(_ * 0.9f)        // same direction, cosine 1.0
    val other = base.map(x => -x)
    val mid = Array.tabulate(16)(i => math.cos(i * 2.3).toFloat)
    val df = Seq((0L, base), (1L, near), (2L, other), (3L, mid))
      .toDF("id", "vec")
    val top = Binary.hammingRerankTopK(df.filter(col("id") === 0), df,
        "id", "id", "vec", 16, shortlist = 3, k = 2)
      .orderBy(col("rank")).collect()
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0,
      s"scaled copy must re-rank first with exact cosine 1.0: ${top.toSeq}")
  }

  test("hamming distance tracks angle: E[dist]/64 ~ angle/pi (Charikar)") {
    import spark.implicits._
    import graft.operators.Binary
    // orthogonal pair: angle pi/2 -> expected Hamming ~ 32 of 64
    val a = Array.tabulate(32)(i => if (i < 16) 1.0f else 0.0f)
    val b = Array.tabulate(32)(i => if (i >= 16) 1.0f else 0.0f)
    val sigs = Binary.signature(Seq((1L, a), (2L, b)).toDF("id", "vec"),
        "id", "vec", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(d >= 20 && d <= 44, s"orthogonal vectors should land near 32, got $d")
  }

  test("CDC chunks: identical docs fully duplicated, unique doc untouched, empty annotated") {
    import spark.implicits._
    val text = ("the quick brown fox jumps over the lazy dog again and " * 8).trim
    val docs = Seq((1L, text), (2L, text),
      (3L, "entirely different content with no shared chunks at all zzz qqq"),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.cdcChunkStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._1 > 1, "long doc should split into multiple chunks")
    assert(out(1L) == out(2L) && out(1L)._3 == 10000L,
      "identical docs: every chunk duplicated")
    assert(out(3L)._2 == 0L && out(3L)._3 == 0L, "unique doc has no dup chunks")
    assert(out(4L) == ((0L, 0L, 0L)), "empty doc annotated with zero chunks")
  }

  test("CDC remove: unique docs round-trip exactly, shared chunks vanish from copies") {
    import spark.implicits._
    val shared = ("boilerplate header the same on every page again and " * 6).trim
    val u1 = "first document unique prose body entirely its own zzz"
    val u2 = "second document different unique content qqq www eee"
    val docs = Seq((1L, u1 + " " + shared), (2L, shared + " " + u2),
      (3L, "a lone document with no duplication anywhere at all"),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.cdcChunkRemove(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the lone doc reassembles to its exact original text (chunks
    // partition the doc)
    assert(out(3L)._1 == "a lone document with no duplication anywhere at all")
    assert(out(3L)._2 == out(3L)._3, "no chunks removed from a unique doc")
    // the shared run disappears from both carriers (the junction
    // chunk — unique prefix + start of the shared run — legitimately
    // survives, so at most ONE phrase copy remains of the six);
    // unique halves survive because boundaries re-sync
    def phrases(s: String) = "every page".r.findAllIn(s).length
    assert(out(1L)._3 < out(1L)._2 && out(2L)._3 < out(2L)._2,
      s"shared chunks must be removed: $out")
    assert(phrases(out(1L)._1) <= 1 && phrases(out(2L)._1) <= 1,
      s"repeated shared copies must vanish: $out")
    assert(out(1L)._1.contains("unique prose") || out(1L)._1.contains("zzz"))
    assert(out(4L) == (("", 0L, 0L)), "empty doc annotated")
  }

  test("CDC chunks survive a local edit (the fixed-block-shatter counterexample)") {
    import spark.implicits._
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10).trim
    val edited = base.substring(0, 280) + " INSERTED WORDS HERE " + base.substring(280)
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // content-defined boundaries re-sync after the insertion, so the
    // two docs still share chunks on both sides of the edit
    assert(out(1L)._2 > 0 && out(2L)._2 > 0,
      s"edit must only perturb its neighborhood, got $out")
  }

  test("recallAtK: identical, disjoint and partial approximations") {
    import spark.implicits._
    import graft.operators.Similarity
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L))
      .toDF("query_id", "neighbor_id")
    val full = Similarity.recallAtK(exact, exact, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(full(0L) == ((2L, 10000L)) && full(1L) == ((2L, 10000L)))
    val partial = Seq((0L, 1L), (0L, 9L), (1L, 8L), (1L, 9L))
      .toDF("query_id", "neighbor_id")
    val p = Similarity.recallAtK(exact, partial, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p(0L) == ((1L, 5000L)), "one of two hits -> 5000 e4")
    assert(p(1L) == ((0L, 0L)), "disjoint -> zero, query still present")
  }

  test("containment is directed: embedded doc scores 1.0, container scores its share") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " eta theta iota kappa lambda mu nu xi omicron pi"
    val docs = Seq((1L, small), (2L, big),
      (3L, "unrelated words entirely different content here")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleLen = 3, minContainment = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // small has 4 shingles, all inside big (big has 14)
    assert(out((1L, 2L)) == 1.0, "embedded doc fully contained")
    assert(math.abs(out((2L, 1L)) - 0.2857) < 1e-9, "container holds 4/14")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("length buckets: boundary assignment, truncation and exact padding efficiency") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq(10L, 32L, 33L, 64L, 5000L).toDF("n_tok")
    val out = Packing.lengthBuckets(docs, "n_tok")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 10 and 32 land in bucket 32: sum 42, eff = 420000/64 div = 6562
    assert(out(32L) == ((2L, 42L, 42L * 10000L / (2L * 32L))))
    // 33 and 64 land in bucket 64
    assert(out(64L) == ((2L, 97L, 97L * 10000L / (2L * 64L))))
    // 5000 clamps+truncates to the 2048 top: eff exactly 10000
    assert(out(2048L) == ((1L, 2048L, 10000L)))
  }

  test("char entropy: degenerate exactly zero, uniform exactly ln(2) e4, empty annotated") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Seq((1L, "aaaaaaa"), (2L, "abababab"), (3L, ""), (4L, "abcd"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextFunctions.charEntropyE4(col("text")).as("e"),
        TextFunctions.charDistinct(col("text")).as("u"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // single distinct char: ln(n)·n − n·ln(n) cancels bit-exactly
    assert(out(1L) == ((0L, 1L)))
    // two equiprobable chars: entropy = ln 2 = 0.693147... -> 6931
    assert(out(2L) == ((6931L, 2L)))
    assert(out(3L) == ((0L, 0L)), "empty text scores 0 with 0 distinct")
    // four equiprobable chars: ln 4 -> 13862
    assert(out(4L) == ((13862L, 4L)))
  }

  test("robust stats: hand-computed order statistics on a planted group") {
    import spark.implicits._
    import graft.operators.RobustStats
    // group g: values 1,2,3,100 -> n=4, median = pos 2 = 2,
    // |x-2| sorted = 0,1,1,98 -> MAD = pos 2 = 1,
    // p05 = pos 1 = 1, p95 = pos 4 = 100 -> winsor sum 106 -> e2 2650
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 100L),
      ("h", 5L)).toDF("k", "v")
    val out = RobustStats.stats(df, "k", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("g") == ((4L, 2L, 1L, 2650L)))
    // singleton group: median = the value, MAD = 0, mean = value
    assert(out("h") == ((1L, 5L, 0L, 500L)))
  }

  test("trigram stupid backoff walks the full ladder with hand-computed costs") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // ref "a b c a b c": uni a=2 b=2 c=2 (total 6); big ab=2 bc=2
    // ca=1; tri abc=2 bca=1 cab=1
    val ref = Seq("a b c a b c").toDF("text")
    val docs = Seq(
      (1L, "a b c"),   // trigram path: c(abc)/c(ab) = 1 -> cost 0
      (2L, "x a b"),   // bigram backoff: 0.4 * c(ab)/c(a) = 0.4
      (3L, "x y c"),   // unigram backoff: 0.16 * c(c)/6
      (4L, "x y z"),   // unknown: 0.16 / 60
      (5L, "a b")      // < 3 words: drops out
    ).toDF("doc_id", "text")
    val out = LanguageModel.trigramNll(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    def e6(p: Double) = math.floor(1e6 * -math.log(p)).toLong
    assert(out(1L) == ((1L, 0L)), s"seen trigram must cost 0: $out")
    assert(out(2L) == ((1L, e6(0.4 * (2.0 / 2.0)))))
    assert(out(3L) == ((1L, e6(0.16 * (2.0 / 6.0)))))
    assert(out(4L) == ((1L, e6(0.16 / 60.0))))
    assert(!out.contains(5L), "two-word doc has no trigram positions")
  }

  test("trigram narrow form matches the join form; pruned context degrades to backoff") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val ref = (Seq.fill(8)("a b c d") :+ "x y z a b c").toDF("text")
    val docs = Seq((1L, "a b c d"), (2L, "x y z q"), (3L, "b c d a b"))
      .toDF("doc_id", "text")
    val join = LanguageModel.trigramNll(docs, "doc_id", "text", ref, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val narrow = LanguageModel.ngramNllNarrow(docs, "doc_id", "text",
        LanguageModel.trainNgrams(ref, "text", order = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(join == narrow, s"unpruned narrow must reproduce the join form:\n$join\n$narrow")
    // min-count pruning drops the singleton grams ("x y z..." path);
    // docs built only of surviving grams score identically, pruned
    // grams fall through the ladder (cost can only rise)
    val pruned = LanguageModel.trainNgrams(ref, "text", order = 3, minCount = 2)
    assert(!pruned.tables(2).contains("x y z") && pruned.tables(2).contains("a b c"))
    val ps = LanguageModel.ngramNllNarrow(docs, "doc_id", "text", pruned)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val js = join.map(t => t._1 -> t._3).toMap
    assert(ps(1L) == js(1L), "all-surviving doc scores identically")
    assert(ps(2L) >= js(2L), "pruned grams can only raise the cost")
  }

  test("skewStats: exact counts, shares and ceil-divide salts") {
    import spark.implicits._
    import graft.operators.Salting
    // key 7 appears 65x, key 1..5 once each -> total 70
    val df = (Seq.fill(65)(7L) ++ (1L to 5L)).toDF("k")
    val out = Salting.skewStats(df, "k", topN = 3, targetPerBucket = 32L)
      .orderBy(col("rank")).collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 7L && out(0).getLong(2) == 65L)
    assert(out(0).getLong(3) == 65L * 10000L / 70L, "share_e4 exact floor")
    assert(out(0).getLong(4) == 3L, "ceil(65/32) = 3 salt buckets")
    assert(out(1).getLong(2) == 1L && out(1).getLong(4) == 1L)
    // ties broken by key asc
    assert(out(1).getLong(1) == 1L && out(2).getLong(1) == 2L)
  }

  test("weighted sample: k rows, no repeats, weight-proportional inclusion") {
    import spark.implicits._
    import graft.operators.Sampling
    // 200 light rows (w=1) + 50 heavy rows (w=100): heavy rows carry
    // 5000/5200 of the mass — a k=40 sample must be dominated by them
    val df = ((1L to 200L).map(i => (i, 1L)) ++
      (1001L to 1050L).map(i => (i, 100L)) :+ ((2000L, 0L)))
      .toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", k = 40).collect()
    assert(got.length == 40)
    val ids = got.map(_.getLong(0))
    assert(ids.distinct.length == 40, "without replacement")
    assert(!ids.contains(2000L), "zero weight never samples")
    val heavy = ids.count(_ >= 1000L)
    assert(heavy >= 30, s"heavy rows must dominate, got $heavy/40")
    // determinism: same call, same sample
    val again = Sampling.weightedSample(df, "id", "w", k = 40)
      .collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == again.sorted.toSeq)
  }

  test("psiByGroup isolates the drifted group") {
    import spark.implicits._
    import graft.operators.Drift
    // group s: identical distributions -> PSI ~ 0 (smoothing only);
    // group d: disjoint value ranges -> large PSI
    val ref = (Seq.fill(50)(("s", 10.0)) ++ Seq.fill(50)(("d", 10.0)))
      .toDF("src", "v")
    val cur = (Seq.fill(50)(("s", 10.0)) ++ Seq.fill(50)(("d", 500.0)))
      .toDF("src", "v")
    val out = Drift.psiByGroup(ref, cur, "src", "v", bucketWidth = 25.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("s")._2 <= 1000L,
      s"stable group must sit near zero, got ${out("s")}")
    assert(out("d")._2 > 1000000L,
      s"shifted group must exceed 1.0 PSI in micro-units, got ${out("d")}")
    assert(out("d")._1 == 2L, "two occupied buckets in the shifted group")
    // per-group isolation: each group's PSI equals the single-group
    // operator run on that group alone
    val solo = Drift.psiNumeric(
        ref.filter(col("src") === "d").select(col("v")),
        cur.filter(col("src") === "d").select(col("v")), "v", 25.0)
      .agg(sum(col("contrib_e6"))).collect()(0).getLong(0)
    assert(out("d")._2 == solo, "keyed form must equal the solo run per group")
  }

  test("stratified weighted sample: k per group, heavy rows dominate within each") {
    import spark.implicits._
    import graft.operators.Sampling
    // two groups; in each, ids >= 100 carry 50x the weight
    val df = (for {
      g <- Seq(1L, 2L)
      i <- 1L to 60L
    } yield (g, g * 1000L + i, if (i > 40) 50L else 1L))
      .toDF("g", "id", "w")
    val got = Sampling.weightedSamplePerKey(df, "g", "id", "w", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 20, "10 per group x 2 groups")
    for (g <- Seq(1L, 2L)) {
      val ids = got.filter(_._1 == g).map(_._2)
      assert(ids.distinct.length == 10)
      val heavy = ids.count(id => id % 1000L > 40L)
      assert(heavy >= 7, s"group $g: heavy rows must dominate, got $heavy/10")
    }
    // ranks are 1..k within each group
    assert(got.filter(_._1 == 1L).map(_._3).sorted.toSeq == (1L to 10L))
  }

  test("IntMath.idivTrunc stays exact past 2^53 (the double-division trap)") {
    import spark.implicits._
    import graft.operators.IntMath
    // (a - a % n) / n through double division loses the +1 at
    // 2^53 + 1; the decimal route must not
    val a = (1L << 53) + 1L
    val got = Seq((a, 1L), (a, 7L), (Long.MaxValue, 10000L))
      .toDF("a", "n")
      .select(IntMath.idivTrunc(col("a"), col("n")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(a, a / 7L, Long.MaxValue / 10000L), s"got $got")
  }

  test("joinCardinality predicts the exact join output, fan-out included") {
    import spark.implicits._
    import graft.operators.Salting
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")          // counts 3,1,1
    val r = Seq(1L, 1L, 2L, 9L).toDF("k")              // counts 2,1,1
    val row = Salting.joinCardinality(l, r, "k").collect()(0)
    // matched keys {1, 2}; est = 3*2 + 1*1 = 7; max key = 6
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((2L, 7L, 6L)))
    assert(l.join(r, Seq("k")).count() == 7L, "prediction must equal the join")
    // disjoint keys: zero everywhere, one row still returned
    val z = Salting.joinCardinality(l, Seq(8L).toDF("k"), "k").collect()(0)
    assert((z.getLong(0), z.getLong(1), z.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("skewStats on an empty input returns an empty report, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("k")
    assert(graft.operators.Salting.skewStats(empty, "k").count() == 0)
    val allNull = Seq[Option[Long]](None, None).toDF("k")
    assert(graft.operators.Salting.skewStats(allNull, "k").count() == 0)
  }
}
