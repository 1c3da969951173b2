package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Behavior specs for the extension operators that have no SQL
  * oracle: LSH recall against brute force, simhash pair banding,
  * multimodal batch plumbing.
  */
class ExtensionOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("lshTopK reaches usable recall vs brute force on random data") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", dim = 64, k = 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall too low")
    // and it must actually be approximate (fewer exact scores than all-pairs)
    assert(lsh.size <= bf.size)
  }

  test("hamming rerank recall dominates the raw 1-bit scan at every shortlist") {
    import graft.operators.Binary
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(q, emb,
      "vec_id", "vec_id", "embedding", k = 10))
    val raw = pairs(Binary.hammingTopK(q, emb,
      "vec_id", "vec_id", "embedding", 64, k = 10))
    for (shortlist <- Seq(32, 64)) {
      val rr = pairs(Binary.hammingRerankTopK(q, emb,
        "vec_id", "vec_id", "embedding", 64, shortlist = shortlist, k = 10))
      val rawRecall = (bf intersect raw).size
      val rrRecall = (bf intersect rr).size
      // the refine step re-orders a SUPERSET of the raw top-10 by
      // exact cosine — recall can only improve, and must by a
      // margin at these shortlists on this fixture
      assert(rrRecall >= rawRecall,
        s"shortlist=$shortlist: rerank $rrRecall < raw $rawRecall")
      if (shortlist >= 64)
        assert(rrRecall > rawRecall,
          s"64-wide shortlist should strictly improve on this fixture")
    }
  }

  test("ivfTopK: deterministic cells, usable recall, exact rank within probed cells") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val cents = emb.filter(col("vec_id") < 16)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding",
      cents, "vec_id", k = 10, nProbe = 4)
    val rows = ivf.collect()
    // deterministic: second run is identical (centroids + argmax are pure)
    val again = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding",
      cents, "vec_id", k = 10, nProbe = 4).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // every query returns a full (or cell-limited) ranked list 1..k
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.sameElements(1L to rs.length))
    }
    // recall vs brute force: probing 4/16 cells must still find most
    // true neighbors (cells are cosine-coherent by construction)
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect got).size.toDouble / bf.size
    assert(recall >= 0.3, s"ivf recall $recall implausibly low")
    assert(got.size <= bf.size)
  }

  test("connectedComponents resolves chains, cliques and isolated nodes") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L),                    // path
      (10L, 11L),                            // pair
      (20L, 21L), (21L, 22L), (22L, 20L),    // triangle
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L) // diameter-4 chain
    ).toDF("id_a", "id_b")
    val ids = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L) ++ (20L to 22L) ++ (30L to 34L))
      .toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L)
    assert(got == want)
    // the star-contraction path (forced via driverThreshold = 0) must
    // produce identical labels to the driver union-find path
    val gotIter = Dedup.connectedComponents(pairs, ids, "doc_id",
        driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotIter == want)
  }

  test("driver and star component paths give identical labels") {
    import spark.implicits._
    val chain = (100L until 139L).map(i => (Option(i), Option(i + 1)))
    val pairs = (chain ++ Seq(
      (Some(200L), Some(201L)), (Some(201L), Some(202L)), (Some(202L), Some(200L)), // triangle
      (Some(300L), Some(301L)), (Some(301L), Some(300L)), (Some(300L), Some(301L)), // duplicates
      (Some(400L), Some(400L)), (Some(120L), Some(120L)),                           // self-pairs
      (None, Some(500L)), (Some(501L), None)                                        // null endpoints
    )).toDF("id_a", "id_b")
    val ids = ((100L to 139L) ++ (200L to 202L) ++ Seq(300L, 301L, 400L, 500L, 501L, 600L))
      .toDF("doc_id")
    val want = ((100L to 139L).map(_ -> 100L) ++ (200L to 202L).map(_ -> 200L) ++
      Seq(300L -> 300L, 301L -> 300L, 400L -> 400L, 500L -> 500L, 501L -> 501L,
        600L -> 600L)).toMap
    // driverThreshold = 0 forces star contraction
    for ((path, threshold) <- Seq("driver" -> (1L << 16), "stars" -> 0L)) {
      val rows = Dedup.connectedComponents(pairs, ids, "doc_id",
          driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == ids.count(), s"$path: one row per id")
      assert(rows.toMap == want, path)
    }
  }

  test("star contraction settles a 512-node chain in O(log n) rounds") {
    import spark.implicits._
    // worst case for label propagation: one path of diameter 511 —
    // min-label would need >500 rounds, star contraction a handful
    val n = 512
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val ids = (0L until n.toLong).toDF("doc_id")
    // a 20-round cap FAILS unless the round count is logarithmic; the
    // root (0) carries no endpoint row
    val stars = Dedup.starComponents(pairs, "id_a", "id_b", maxRounds = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == (1L until n.toLong).map(_ -> 0L).toMap)
    // the operator over the driver cap takes the same path
    val got = Dedup.connectedComponents(pairs, ids, "doc_id", driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n.toLong).map(_ -> 0L).toMap)
  }

  test("connectedComponents equals union-find on a random graph at both thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val nNodes = 300L
    val pairs = (0 until 400).map { _ =>
      (rnd.nextLong(nNodes), rnd.nextLong(nNodes))
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val ids = (0L until nNodes).toDF("doc_id")
    // reference labels: a plain union-find in the test, independent of
    // the operator's own driver path
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x).filter(_ != x).map(find).getOrElse(x)
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0L until nNodes).map(i => i -> find(i)).toMap
    for (threshold <- Seq(1L << 16, 0L)) {
      val got = Dedup.connectedComponents(pairs, ids, "doc_id",
          driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"driverThreshold = $threshold")
    }
  }

  test("jaccardFromTokens equals the counts + join-back form on random token relations") {
    import spark.implicits._
    // the retired form of the Jaccard tail, kept here as the oracle:
    // per-id set sizes as an aggregate, joined back onto the pair
    // aggregate once per side
    def joinBack(t: org.apache.spark.sql.DataFrame, minJaccard: Double) = {
      val counts = t.groupBy(col("id")).agg(count(lit(1)).as("n"))
      t.select(col("id").as("id_a"), col("tok"))
        .join(t.select(col("id").as("id_b"), col("tok")), Seq("tok"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
        .join(counts.select(col("id").as("id_a"), col("n").as("na")), "id_a")
        .join(counts.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    // 8 seeded relations in one frame: seed s owns ids s*100 + k and
    // tokens "s:t", so no pair crosses seeds. Id s*100 is duplicated
    // (two token sets under one id, so some (id, tok) rows repeat),
    // some ids carry a null token, and id s*100 + 99 has no token at
    // all, only a null one
    val rows = (0 until 8).flatMap { s =>
      val rnd = new scala.util.Random(s)
      def draw(id: Long) = rnd.shuffle((0 until 12).toList)
        .take(2 + rnd.nextInt(6)).map(t => (id, Option(s"$s:$t")))
      val ids = (0 until 10).map(k => s * 100L + k)
      ids.flatMap(draw) ++ draw(s * 100L) ++
        ids.filter(_ => rnd.nextInt(4) == 0).map(id => (id, Option.empty[String])) :+
        (s * 100L + 99, Option.empty[String])
    }
    val t = rows.toDF("id", "tok")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    for (minJaccard <- Seq(0.0, 0.5)) {
      val got = sorted(Dedup.jaccardFromTokens(t, minJaccard))
      assert(got.nonEmpty, s"minJaccard $minJaccard: no pairs")
      assert(got == sorted(joinBack(t, minJaccard)), s"minJaccard $minJaccard")
    }
  }

  test("winnowed fingerprints overlap heavily for near-identical docs") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu omicron"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val mins = docs
      .select(col("doc_id"), shinglesOfWords(words(col("text")), 3).as("sh"))
      .select(col("doc_id"), shingleHashes48(col("sh")).as("hs"))
      .select(col("doc_id"), winnowedMins(col("hs"), 4).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val j01 = (mins(0L) intersect mins(1L)).size.toDouble /
      (mins(0L) union mins(1L)).size
    assert(j01 >= 0.5, s"near-identical docs should share minima, got $j01")
    assert((mins(0L) intersect mins(2L)).isEmpty)
    // a doc shorter than one window still yields a fingerprint
    val short = Seq((9L, "tiny doc here")).toDF("doc_id", "text")
      .select(shinglesOfWords(words(col("text")), 3).as("sh"))
      .select(shingleHashes48(col("sh")).as("hs"))
      .select(winnowedMins(col("hs"), 4).as("m"))
      .collect().head.getSeq[Long](0)
    assert(short.length == 1)
  }

  test("simhashPairs finds near-identical docs and respects hamming bound") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (2L, "completely different words about spark query engines and column pruning here"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical docs 0/3: hamming 0; near-identical 0/1 and 1/3 within 3
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 3L && h == 0L })
    assert(pairs.forall(_._3 <= 3))
    assert(!pairs.exists { case (a, b, _) => b == 2L || a == 2L })
  }

  test("minhashPairs surfaces the known near-dup pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", minEstimate = 0.5)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = mh.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every >=0.9 true pair must be an LSH candidate (b=4, r=3 -> P ~ 0.999)
    assert(jac.subsetOf(found), s"missing ${jac -- found}")
  }

  test("band index maintenance: append batch keys == recompute whole index") {
    // the stored-index update rule at ingest: the new batch's band
    // keys (computed with the narrow HOF form on the ingest path)
    // appended to the existing index equal a from-scratch rebuild —
    // signatures are per-doc independent, so the index never needs
    // recomputation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 7)
    val batch = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 7)
    val appended = Dedup.corpusBandIndex(corpus, "doc_id", "text")
      .unionByName(Dedup.bandKeysNarrow(batch, "doc_id", "text")
        .select(org.apache.spark.sql.functions.col("band_key"),
          org.apache.spark.sql.functions.col("doc_id").as("corpus_id")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val rebuilt = Dedup.corpusBandIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(appended == rebuilt && appended.nonEmpty)
  }

  test("incrementalMinhashPairs = full pairs minus corpus-internal pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val inBatch = (id: Long) => id % 10 == 7
    val full = Dedup.minhashPairs(docs, "doc_id", "text", minEstimate = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = Dedup.incrementalMinhashPairs(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 7),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 7),
        "doc_id", "text", minEstimate = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => inBatch(a) || inBatch(b) }
    assert(incr == expected, s"extra=${incr -- expected} missing=${expected -- incr}")
    assert(expected.nonEmpty) // the fixture has batch-touching near-dups
  }

  test("LSH near-dup pairs find planted true near-duplicates") {
    // plant pairs at cosine ~0.99 (tiny noise around base vectors) —
    // the regime the operator exists for; the corpus's own random
    // pairs (max cosine ~0.5) are not near-dups and sign-LSH rightly
    // ignores them
    import spark.implicits._
    val rng = new scala.util.Random(5)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 30).map(i => (i.toLong, vec()))
    val noisy = bases.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    }
    val df = (bases ++ noisy).toDF("vec_id", "embedding")
    val expected = bases.map { case (i, _) => (i, i + 1000L) }.toSet

    val exact = Similarity.embeddingNearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == expected)

    val lsh = Similarity.embeddingNearDupPairsLSH(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact verification keeps only true pairs
    assert(lsh.size.toDouble / exact.size >= 0.8,
      s"recall ${lsh.size}/${exact.size} too low for planted near-dups")
  }

  test("multimodal end to end: payload -> resize -> embed -> kNN") {
    import spark.implicits._
    val payloads = (0L until 40L)
      .map(i => (i, Array.fill((i % 7 + 3).toInt * 50)((i % 251).toByte)))
      .toDF("item_id", "payload")
    val resized = Multimodal.resizeStub(payloads, "payload", targetBytes = 64)
    assert(resized.select(max(length(col("resized")))).head.getInt(0) <= 64)
    val embedded = Multimodal.embedStub(resized, "resized", dim = 8)
    val vec = embedded.select("embedding").head.getSeq[Float](0)
    assert(vec.length == 8 && vec.forall(v => v >= -1f && v < 1f))
    // the pseudo-embeddings feed the real ANN operator unchanged
    val knn = graft.operators.Similarity.bruteForceTopK(
      embedded.filter(col("item_id") < 2), embedded,
      "item_id", "item_id", "embedding", k = 5)
    val byQ = knn.collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach(rs => assert(rs.length == 5))
  }

  test("multimodal batch decode plumbing (stubbed codec)") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "defghij")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "utf-8").as("payload"))
    val featureSchema = StructType(Seq(
      StructField("n", LongType), StructField("head", StringType)))
    val out = Multimodal.mapBatches(df, "payload", featureSchema) { bytes =>
      bytes.map(b => Row(b.length.toLong, new String(b.take(2), "UTF-8")))
    }
    val rows = out.select(col("id"), col("features.n"), col("features.head"))
      .orderBy("id").collect().map(_.toSeq.toList).toList
    assert(rows == List(List(1L, 3L, "ab"), List(2L, 7L, "de")))
  }

  test("frame sampler stub produces stride-sized binary chunks") {
    import spark.implicits._
    val df = Seq((1L, "x" * 40)).toDF("id", "text")
      .select(col("id"), encode(col("text"), "utf-8").as("payload"))
    val frames = Multimodal.sampleFramesStub(df, "payload", stride = 16)
      .select(size(col("frames"))).head().getInt(0)
    assert(frames == 3) // 40 bytes -> chunks at 0,16,32
  }
}
