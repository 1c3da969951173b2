package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the compression half of
  * the IVF+PQ recipe that every billion-vector ANN deployment runs:
  * split each vector into `m` subvectors, k-means each subspace
  * independently, and store a vector as its `m` centroid codes
  * (m bytes for k<=256 instead of 4*dim — a 32x shrink at dim=64,
  * m=8). Distances are then computed code-to-codebook (ADC), never
  * touching the raw vectors.
  *
  * Built on [[KMeans]]'s quantized-integer discipline, so the whole
  * fit+encode is a pure function of the data that replays
  * bit-identically in SQL: milliunit quantization, init = k smallest
  * ids' subvectors, exact integer distances, ties to the smaller
  * code.
  *
  * Scale shape: each subspace fit is the KMeans loop (narrow
  * assignment against broadcast centroid literals + one k*subDim
  * aggregation per step); the final encode is ONE narrow projection
  * over the corpus — all m argmins evaluate per-row against m*k
  * broadcast literals, no join, no shuffle. The driver only ever
  * holds m*k*subDim longs (the codebooks). At 100 TB the encode adds
  * zero exchanges to the scan.
  */
object PQ {

  /** Per-subspace codebooks: (subspace, code) -> centroid, in
    * milliunit longs. */
  final case class Codebooks(m: Int, subDim: Int,
                             centroids: Map[(Int, Int), Seq[Long]])

  /** Fit m independent codebooks over the quantized subvector
    * slices. `dim` must be divisible by `m`.
    *
    * Seeding is ONE TakeOrdered scan: the k smallest ids' full
    * quantized vectors collect once and every subspace slices its
    * init centroids driver-side — identical codebooks to seeding
    * each subspace with its own scan (the slice of a row is the row
    * of a slice), minus m-1 corpus scans. */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          m: Int = 4, k: Int = 16, steps: Int = 2): Codebooks =
    fitQuantized(
      df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qf")),
      idCol, dim, m, k, steps)

  /** [[fit]] over an already-quantized long-array column `__qf` —
    * the shared core that raw-vector and residual fits feed. */
  private[operators] def fitQuantized(q: DataFrame, idCol: String, dim: Int,
                                      m: Int, k: Int, steps: Int): Codebooks = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val seeds: Array[Seq[Long]] =
      q.orderBy(col(idCol).asc).limit(k).collect()
        .map(_.getSeq[Long](1).toSeq)
    val all = (0 until m).flatMap { j =>
      val qj = q.select(col(idCol),
        slice(col("__qf"), j * subDim + 1, subDim).as("__q"))
      val init: Map[Int, Seq[Long]] =
        seeds.map(_.slice(j * subDim, (j + 1) * subDim)).zipWithIndex
          .map { case (v, i) => i -> v }.toMap
      var centroids = init
      for (_ <- 2 to steps) {
        centroids = KMeans.update(KMeans.assignTo(qj, centroids))
      }
      centroids.map { case (c, v) => (j, c) -> v }
    }
    Codebooks(m, subDim, all.toMap)
  }

  /** Encode every vector as its m nearest-centroid codes plus the
    * total squared quantization error — one narrow projection, codes
    * argmin'd against broadcast codebook literals. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             books: Codebooks, keep: Seq[String] = Nil): DataFrame =
    encodeQuantized(
      df.select(col(idCol) +: keep.map(col) :+
        KMeans.quantize(col(vecCol)).as("__qf"): _*),
      idCol, books, keep)

  /** [[encode]] over an already-quantized long-array column `__qf` —
    * the shared core that raw-vector and residual encodes feed.
    *
    * Optimization round 17: each subspace argmin is ONE codegen'd
    * [[graft.plans.NearestCentroidLong]] kernel over a broadcast-ref
    * codebook instead of the k-way unrolled
    * `array(|s|² − 2 s·c + |c|², ...)` + array_min/array_position
    * chain against k typedlit centroid literals per subspace. Same
    * values (exact integer Σ(s−c)², ids scanned ascending, strict <
    * keeps the smallest code on ties — the bit-identity the
    * Round5OpsSpec pin of KMeans.assignTo against the expression form);
    * the plan shrinks from m·k literal branches to m kernel nodes,
    * which is what makes the PQ family cheap to plan, serialize and
    * fan out. */
  private[operators] def encodeQuantized(q: DataFrame, idCol: String,
                                         books: Codebooks,
                                         keep: Seq[String]): DataFrame = {
    val withSub = (0 until books.m).foldLeft(q) { (acc, j) =>
      acc.withColumn(s"__s$j",
        slice(col("__qf"), j * books.subDim + 1, books.subDim))
    }
    val coded = (0 until books.m).foldLeft(withSub) { (acc, j) =>
      // surviving cluster ids, sorted: an init centroid that captured
      // zero points in the last update pass has no codebook entry
      // (same convention as KMeans.assignTo), so codes are the
      // ORIGINAL cluster ids, not dense positions
      val ids = subspaceCodes(books, j)
      val assigned = graft.plans.VectorExpressions.nearestCentroidLong(
        col(s"__s$j"), ids.map(c => (c, books.centroids((j, c)))))
      acc.withColumn(s"__a$j", assigned)
        .withColumn(s"code_$j", col(s"__a$j").getField("cluster"))
        .withColumn(s"__e$j", col(s"__a$j").getField("dist"))
    }
    coded.select(col(idCol) +: keep.map(col) ++:
      (0 until books.m).map(j => col(s"code_$j")) :+
      (0 until books.m).map(j => col(s"__e$j")).reduce(_ + _).as("pq_err"): _*)
  }

  /** Surviving cluster ids of subspace j, sorted. */
  private def subspaceCodes(books: Codebooks, j: Int): Seq[Int] =
    books.centroids.keys.collect { case (`j`, c) => c }.toSeq.sorted

  /** Asymmetric-distance (ADC) top-`n` search: squared L2 between a
    * raw query and each ENCODED vector, computed as the sum of the
    * query's per-subspace distances to the assigned centroids. The
    * per-query lookup table (m*k longs) folds into broadcast
    * literals, so the search is a narrow projection over the code
    * table + a bounded [[TopK]] aggregate — the plan never touches
    * the original vectors, which is the entire point of PQ at scale.
    */
  /** Per-query lookup table (m*k exact integer distances), resolved
    * per row as an element_at over a literal MAP keyed by the
    * (possibly sparse — see encode) original cluster-id codes: O(1)
    * per subspace and constant codegen size, where a when-chain would
    * be k comparisons per subspace and blow up generated-method size
    * at production k=256. */
  private def adcDistExpr(books: Codebooks, query: Seq[Double]): Column = {
    val qq: Seq[Long] = query.map(x => math.floor(x * 1000).toLong)
    val lut: Map[(Int, Int), Long] = books.centroids.map { case ((j, c), cent) =>
      val qs = qq.slice(j * books.subDim, (j + 1) * books.subDim)
      (j, c) -> qs.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    (0 until books.m).map { j =>
      val table: Map[Int, Long] =
        subspaceCodes(books, j).map(c => c -> lut((j, c))).toMap
      element_at(typedlit(table), col(s"code_$j"))
    }.reduce(_ + _)
  }

  def adcTopK(codes: DataFrame, idCol: String, books: Codebooks,
              query: Seq[Double], n: Int = 10): DataFrame = {
    val dist = adcDistExpr(books, query)
    // orderBy+limit plans as TakeOrderedAndProject: every task keeps
    // only its n best rows, the driver merges — no global sort
    codes.withColumn("adc_dist", dist)
      .orderBy(col("adc_dist").asc, col(idCol).asc).limit(n)
      .select(col(idCol), col("adc_dist"))
  }

  /** ADC shortlist + exact re-rank — the FAISS refine stage
    * (IndexRefineFlat): compressed ADC distances are rank-faithful
    * only up to quantization error, so production search over-fetches
    * a `shortlist` of candidates through the code table and re-scores
    * JUST those rows against their original vectors with exact
    * integer L2. Recall of the exact top-n at ADC scan cost plus a
    * shortlist-sized join.
    *
    * Scale shape: the shortlist exits the narrow ADC projection
    * through TakeOrdered (≤ shortlist rows on the driver — bounded by
    * a parameter, not the data); the fetch-back joins that tiny frame
    * BROADCAST against the corpus, so the corpus never shuffles and
    * the scan reads only (id, vec). At 100 TB this is the standard
    * two-tier layout: codes in fast storage for the scan, raw vectors
    * fetched by id for the final n — and the exact arithmetic is the
    * same milliunit integer discipline as the encode, so the whole
    * composed path still replays in SQL.
    */
  def adcRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    codes: DataFrame, books: Codebooks, query: Seq[Double],
                    shortlist: Int = 50, n: Int = 10): DataFrame = {
    import graft.plans.VectorExpressions.dotLong
    val qq: Seq[Long] = query.map(x => math.floor(x * 1000).toLong)
    val short = adcTopK(codes, idCol, books, query, shortlist)
    val raw = corpus.select(col(idCol), KMeans.quantize(col(vecCol)).as("__q"))
    val qlit = typedlit(qq)
    raw.join(broadcast(short), Seq(idCol))
      .withColumn("exact_dist",
        dotLong(col("__q"), col("__q")) - lit(2L) * dotLong(col("__q"), qlit) +
          lit(qq.map(x => x * x).sum))
      .orderBy(col("exact_dist").asc, col(idCol).asc).limit(n)
      .select(col(idCol), col("exact_dist"), col("adc_dist"))
  }

  /** IVF+PQ — the composed billion-vector recipe (FAISS IVFPQ, Jégou
    * et al. 2011 §V): corpus vectors are assigned to inverted-file
    * cells AND compressed to PQ codes; a query probes its `nProbe`
    * nearest cells and ADC-scores only those cells' residents through
    * the m*k lookup table.
    *
    * Plan shape: cell assignment + encode are ONE narrow projection
    * over the corpus (broadcast centroid matrix + codebook literals —
    * zero exchanges); the probe is a partition-pruning filter
    * (`cell IN (...)`, a literal list); scoring is a when-chain over
    * byte codes; the only exchange is the final TakeOrdered merge. At
    * 100 TB, write the code table bucketed by cell and the probe
    * filter becomes partition pruning on disk — the query never
    * touches 1/nlist of the corpus, compressed 32x.
    *
    * Deterministic centroids make even the composed path
    * oracle-checkable: assignment/probing use round-to-6 cosine with
    * a centroid-id tiebreak (same discipline as [[Similarity.ivfTopK]]).
    */
  def ivfpqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cidCol: String, books: Codebooks,
                query: Seq[Double], nProbe: Int = 4, n: Int = 10): DataFrame = {
    val cents = Similarity.collectCentroids(centroids, cidCol, vecCol)
    val probed = Similarity.probeCells(query.map(_.toFloat), cents, nProbe)

    // codegen'd cell assignment over the embedded centroid matrix
    // (the ScalaUDF form blocked whole-stage codegen on the
    // corpus-wide scan; same kernel as Similarity.ivfTopK)
    val withCell = corpus.withColumn("__cell",
      graft.plans.VectorExpressions.nearestCell(
        col(vecCol).cast("array<float>"),
        cents.map { case (cid, cv, _) => (cid, cv.toSeq) }.toSeq))
    val codes = encode(withCell, idCol, vecCol, books, keep = Seq("__cell"))
      .filter(col("__cell").isin(probed: _*))

    codes.withColumn("adc_dist", adcDistExpr(books, query))
      .orderBy(col("adc_dist").asc, col(idCol).asc).limit(n)
      .select(col(idCol), col("adc_dist"), col("__cell").as("cell"))
  }

  // ---------- residual IVF+PQ (Jégou et al. 2011 §V, the actual
  // FAISS IVFPQ recipe): PQ encodes the RESIDUAL v - centroid(cell),
  // not the raw vector. The coarse quantizer here is the quantized
  // Lloyd's k-means of [[KMeans]] (integer milliunit centroids, exact
  // integer L2 assignment, smallest-cluster tiebreaks), NOT an
  // arbitrary set of corpus vectors: residuals only shrink when the
  // cells are variance-explaining cluster MEANS (law of total
  // variance) — subtracting a cosine-nearest arbitrary vector can
  // GROW the spread in high dimension and make PQ strictly worse,
  // which PQSpec demonstrates residual-vs-raw on the fixture. All
  // arithmetic stays exact integer (residual = milliunit v minus
  // integer centroid), so the whole composed path — coarse fit, cell
  // assignment, residual codebooks, per-cell ADC — replays
  // bit-identically in SQL. ----------

  /** A fitted residual IVF+PQ model: the coarse quantizer's integer
    * centroids (cell id -> milliunit vector) plus the PQ codebooks
    * fit on the residuals. Driver footprint: nlist*dim + m*k*subDim
    * longs — centroids, never data. */
  final case class IvfPqModel(coarse: Map[Int, Seq[Long]], books: Codebooks)

  /** __qf = __q - coarse(cluster): exact integer residual, one
    * narrow projection against the broadcast centroid map literal. */
  private def residualFrame(assigned: DataFrame,
                            coarse: Map[Int, Seq[Long]]): DataFrame =
    assigned.withColumn("__qf",
      zip_with(col("__q"), element_at(typedlit(coarse), col("cluster")),
        (a, b) => a - b))

  /** Fit the composed model: coarse k-means (init = nlist smallest
    * ids, `steps` assignment passes — the [[KMeans.fit]] loop), then
    * m PQ codebooks over the residuals. Pure function of the data. */
  def fitResidual(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                  nlist: Int = 16, m: Int = 4, k: Int = 16,
                  steps: Int = 2): IvfPqModel = {
    require(steps >= 1, "coarse k-means needs at least one assignment pass")
    val q = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__q"))
    val init: Map[Int, Seq[Long]] =
      q.orderBy(col(idCol).asc).limit(nlist).collect()
        .map(_.getSeq[Long](1).toSeq).zipWithIndex
        .map { case (v, i) => i -> v }.toMap
    var coarse = init
    for (_ <- 2 to steps) {
      coarse = KMeans.update(KMeans.assignTo(q, coarse))
    }
    // persist the residual frame for the m subspace fits: every
    // update pass scans it, and recomputing means re-running the
    // nlist distance kernels + the residual fold per scan (measured
    // ~4x on the whole fit). Unpersisted before returning — the
    // books are driver values, nothing references the frame after.
    val res = residualFrame(KMeans.assignTo(q, coarse), coarse)
      .select(col(idCol), col("__qf")).persist()
    try {
      val books = fitQuantized(res, idCol, dim, m, k, steps)
      IvfPqModel(coarse, books)
    } finally res.unpersist()
  }

  /** Residual-encode the corpus: (idCol, cell, code_0..code_{m-1},
    * pq_err) — the table a bucketed-by-cell layout writes to disk.
    * Cell assignment + residual + m argmins are ONE narrow
    * projection against broadcast literals, zero exchanges. */
  def encodeResidual(df: DataFrame, idCol: String, vecCol: String,
                     model: IvfPqModel): DataFrame = {
    val q = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__q"))
    val res = residualFrame(KMeans.assignTo(q, model.coarse), model.coarse)
      .withColumnRenamed("cluster", "cell")
    encodeQuantized(res.select(col(idCol), col("cell"), col("__qf")),
      idCol, model.books, keep = Seq("cell"))
  }

  private def sqDist(a: Seq[Long], b: Seq[Long]): Long = {
    var i = 0; var s = 0L
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Per-query, per-CELL ADC lookup table: the query's residual
    * differs per probed cell (q - centroid(cell)), so the literal
    * map keys on cell * 1024 + code — still O(1) per subspace and
    * constant codegen size, nProbe * k entries per subspace. */
  private def adcResidualDistExpr(model: IvfPqModel, qq: Seq[Long],
                                  probed: Seq[Int]): Column = {
    val books = model.books
    require(books.centroids.keys.map(_._2).max < 1024,
      "code ids must fit the key stride")
    (0 until books.m).map { j =>
      val table: Map[Long, Long] = (for {
        cell <- probed
        c <- subspaceCodes(books, j)
      } yield {
        val cent = model.coarse(cell)
        val qres = qq.indices.map(i =>
          qq(i) - (if (i < cent.length) cent(i) else 0L))
        val qs = qres.slice(j * books.subDim, (j + 1) * books.subDim)
        (cell.toLong * 1024L + c) -> sqDist(qs, books.centroids((j, c)))
      }).toMap
      element_at(typedlit(table),
        col("cell").cast("long") * 1024L + col(s"code_$j"))
    }.reduce(_ + _)
  }

  /** Residual IVF+PQ search: probe = the nProbe cells nearest the
    * query by exact integer L2 (cell-id tiebreak, driver-side over
    * the nlist centroids); assign + residual-encode of the probed
    * cells' residents is one narrow projection BEHIND the cell
    * filter; per-cell ADC literal maps; TakeOrdered. Zero exchanges
    * beyond the final top-n merge — and with the code table written
    * bucketed by cell, the filter becomes disk partition pruning. */
  def ivfpqResidualTopK(corpus: DataFrame, idCol: String, vecCol: String,
                        model: IvfPqModel, query: Seq[Double],
                        nProbe: Int = 4, n: Int = 10): DataFrame = {
    val qq: Seq[Long] = query.map(x => math.floor(x * 1000).toLong)
    val probed: Seq[Int] = model.coarse.toSeq
      .map { case (c, cent) => (c, sqDist(qq, cent)) }
      .sortBy { case (c, d) => (d, c) }.take(nProbe).map(_._1)
    val q = corpus.select(col(idCol), KMeans.quantize(col(vecCol)).as("__q"))
    val res = residualFrame(KMeans.assignTo(q, model.coarse), model.coarse)
      .filter(col("cluster").isin(probed: _*))
      .withColumnRenamed("cluster", "cell")
    val codes = encodeQuantized(
      res.select(col(idCol), col("cell"), col("__qf")),
      idCol, model.books, keep = Seq("cell"))
    codes.withColumn("adc_dist", adcResidualDistExpr(model, qq, probed))
      .orderBy(col("adc_dist").asc, col(idCol).asc).limit(n)
      .select(col(idCol), col("adc_dist"), col("cell"))
  }
}
