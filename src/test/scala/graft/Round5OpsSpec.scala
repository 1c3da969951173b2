package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, KMeans, Sampling}

/** Round-5 curation operators: quantized k-means, cluster-bucketed
  * semantic dedup, benchmark decontamination, and deterministic
  * weighted mixing.
  */
class Round5OpsSpec extends SparkSpec {

  private val SF = "/root/testdata/sf0.001"

  private def embeddings = spark.read.parquet(s"$SF/embeddings.parquet")

  test("kmeans assigns every point to its exactly-nearest centroid") {
    import spark.implicits._
    val fit = KMeans.fit(embeddings, "vec_id", "embedding", k = 4, steps = 2)
    val rows = fit.collect()
    assert(rows.length == embeddings.count())
    val clusters = rows.map(_.getInt(1)).distinct
    assert(clusters.length <= 4 && clusters.forall(c => c >= 0 && c < 4))
    val q = embeddings.select(col("vec_id"),
      KMeans.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    // 1-step fit: dist IS the distance to the nearest init centroid,
    // ties to the smaller cluster id — re-derived independently here
    val one = KMeans.fit(embeddings, "vec_id", "embedding", k = 4, steps = 1)
      .collect()
    val initIds = embeddings.orderBy(col("vec_id")).limit(4)
      .select("vec_id").as[Long].collect()
    val initCents = initIds.zipWithIndex.map { case (id, i) => i -> q(id) }.toMap
    one.foreach { r =>
      val v = q(r.getLong(0))
      val dists = initCents.map { case (c, cv) =>
        c -> v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      val best = dists.minBy { case (c, d) => (d, c) }
      assert(r.getInt(1) == best._1 && r.getLong(2) == best._2)
    }
  }

  /** Differential oracle for [[KMeans.assignTo]]'s kernel: the
    * oracle-replayable per-centroid expression form,
    * |v|^2 - 2 v.c + |c|^2 per centroid literal, ties to the smallest
    * id (array_position takes the FIRST minimum over sorted ids — what
    * the SQL oracle's ORDER BY d, c replays). */
  private def exprAssign(q0: DataFrame, centroids: Map[Int, Seq[Long]]): DataFrame = {
    import graft.plans.VectorExpressions.dotLong
    val ids = centroids.keys.toSeq.sorted
    val q = q0.withColumn("__vn", dotLong(col("__q"), col("__q")))
    val dists = array(ids.map { i =>
      val c = centroids(i)
      col("__vn") - lit(2L) * dotLong(col("__q"), typedlit(c)) +
        lit(c.map(x => x * x).sum)
    }: _*)
    q.withColumn("__d", dists)
      .withColumn("dist", array_min(col("__d")))
      // null vector -> null cluster too; unguarded, array_position over
      // the all-null distance array resolves to position 1
      .withColumn("cluster",
        when(col("dist").isNotNull,
          element_at(typedlit(ids),
            array_position(col("__d"), array_min(col("__d"))).cast("int"))))
      .drop("__d", "__vn")
  }

  test("kernel-form assignment is bit-identical to the expression oracle") {
    // autoK at production n wants thousands of clusters, so assignment
    // is one centroid-matrix kernel; it must match the per-centroid
    // expression form: same integer sums, same smallest-id tiebreak.
    val q = embeddings.select(col("vec_id"),
      KMeans.quantize(col("embedding")).as("__q"))
    val cents = q.orderBy(col("vec_id")).limit(12).collect()
      .map(_.getSeq[Long](1).toSeq).zipWithIndex
      .map { case (v, i) => i -> v }.toMap
    def rows(assign: (DataFrame, Map[Int, Seq[Long]]) => DataFrame) =
      assign(q, cents)
        .select("vec_id", "cluster", "dist").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows(exprAssign) == rows(KMeans.assignTo))
  }

  test("kernel and expression assignment agree on null vectors") {
    // a null embedding must yield null cluster/dist on BOTH paths —
    // the kernel null-guards where the expression form's arithmetic
    // null-propagates
    val q = embeddings.limit(3)
      .select(col("vec_id"), KMeans.quantize(col("embedding")).as("__q"))
      .union(embeddings.limit(1)
        .select(col("vec_id") + 1000000L,
          lit(null).cast("array<bigint>").as("__q")))
    val cents = Map(0 -> Seq.fill(64)(0L), 1 -> Seq.fill(64)(5L))
    def rows(assign: (DataFrame, Map[Int, Seq[Long]]) => DataFrame) =
      assign(q, cents)
        .select("vec_id", "cluster", "dist").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1).toSeq
    val expr = rows(exprAssign)
    assert(expr == rows(KMeans.assignTo))
    assert(expr.count { case (_, c, d) => c.isEmpty && d.isEmpty } == 1)
  }

  test("auto-parameter paths return empty pairs on an empty corpus") {
    // k = 0 / nPlanes = 0 feed a count() to autoK/autoPlanes, which
    // require n > 0 — an upstream filter dropping every row must give
    // the same empty pair set the frozen-parameter paths give, not an
    // IllegalArgumentException
    val none = embeddings.filter(lit(false))
    assert(KMeans.semanticNearDupPairs(none, "vec_id", "embedding",
      k = 0).count() == 0)
    assert(graft.operators.Similarity.embeddingNearDupPairsLSH(none,
      "vec_id", "embedding", minCosine = 0.9, nPlanes = 0).count() == 0)
  }

  test("semantic near-dup pairs are a subset of exact near-dup pairs") {
    // superset computed at a slightly LOWER threshold: milliunit
    // quantization shifts a cosine by O(1e-3), so a 0.42 semantic
    // pair is guaranteed inside the exact 0.41 set — the assertion
    // tolerates the boundary instead of being flaky on it
    val exact = graft.operators.Similarity
      .embeddingNearDupPairs(embeddings, "vec_id", "embedding",
        minCosine = 0.41)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val semantic = KMeans.semanticNearDupPairs(embeddings, "vec_id",
        "embedding", k = 4, steps = 2, minCosE4 = 4200L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: cluster bucketing can only LOSE cross-cluster pairs,
    // never invent one above the (tolerance-widened) threshold
    val invented = semantic.diff(exact)
    assert(invented.isEmpty,
      s"semantic pairs not in exact-0.41 set: $invented")
    assert(semantic.nonEmpty)
  }

  test("larger k shrinks within-cluster candidate work (the n*B scaling lever)") {
    def candPairs(k: Int): Long = {
      val sizes = KMeans.fit(embeddings, "vec_id", "embedding", k = k, steps = 2)
        .groupBy("cluster").count().collect().map(_.getLong(1))
      sizes.map(n => n * (n - 1) / 2).sum
    }
    assert(candPairs(16) < candPairs(4))
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta"),       // shares "alpha beta gamma"
      (2L, "one two three four five"),      // clean
      (3L, "zz alpha beta gamma"),          // shares (not at start)
      (4L, "alpha beta delta gamma")        // 3-grams differ -> clean
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(train, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got == Map(
      1L -> (1L, 1), 2L -> (0L, 0), 3L -> (1L, 1), 4L -> (0L, 0)))
  }

  test("hash-stratified mixing keeps per-key hash buckets exactly") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"src${i % 2}")).toDF("id", "src")
    val kept = Sampling.hashStratified(df, "id", "src",
      Map("src0" -> 10000, "src1" -> 0))
    // src0 keeps everything (threshold = full range), src1 drops all
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("src0" -> 500L))
    // and the keep decision is reproducible row-for-row
    val again = Sampling.hashStratified(df, "id", "src",
      Map("src0" -> 10000, "src1" -> 0))
    assert(kept.collect().map(_.getLong(0)).sorted
      sameElements again.collect().map(_.getLong(0)).sorted)
  }

  test("quota sampling takes exactly min(n, stratum size) per stratum") {
    import spark.implicits._
    // src0: 40 rows, src1: 5 rows (smaller than the quota of 10)
    val df = ((0L until 40L).map(i => (i, "src0")) ++
      (100L until 105L).map(i => (i, "src1"))).toDF("id", "src")
    val got = Sampling.quotaSample(df, "id", "src", n = 10)
    val bySrc = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("src0" -> 10L, "src1" -> 5L))
    // deterministic: same input -> same ids, and it matches the
    // rank-window formulation exactly
    import org.apache.spark.sql.expressions.Window
    val h = expr("conv(substring(md5(cast(id AS STRING)), 1, 12), 16, 10)")
      .cast("long")
    val w = Window.partitionBy(col("src")).orderBy(h.asc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("id").as[Long].collect().sorted
    val ids = got.select("id").as[Long].collect().sorted
    assert(ids sameElements want)
  }

  test("quota sampling does not readmit rows from other strata sharing an id") {
    import spark.implicits._
    // id values repeat across strata: picking id=i in stratum A must
    // not drag along stratum B's row with the same id
    val df = ((0L until 30L).map(i => (i, "a")) ++
      (0L until 30L).map(i => (i, "b"))).toDF("id", "src")
    val got = Sampling.quotaSample(df, "id", "src", n = 5)
    val bySrc = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 5L, "b" -> 5L))
  }

  test("repetitive synthetic doc trips the repetition signals") {
    import spark.implicits._
    import graft.functions.TextFunctions.{words, shinglesOfWords}
    // "spam spam spam ..." -> every bigram identical
    val df = Seq((1L, Seq.fill(20)("spam").mkString(" ")),
      (2L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val bg = df.select(col("doc_id"),
      shinglesOfWords(words(col("text")), 2).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bg(1L).distinct.length == 1 && bg(1L).length == 19)
    assert(bg(2L).distinct.length == 19)
  }
}
