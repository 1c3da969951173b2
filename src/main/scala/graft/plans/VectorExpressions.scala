package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the hot vector kernel: index-order
  * double dot product of two float arrays.
  *
  * Sits at step (b) of the extension ladder (compose built-ins →
  * custom Expression → custom plan node): the built-in higher-order
  * functions can express a dot product but never enter whole-stage
  * codegen, and a Scala UDF pays serialization at every call.
  * `doGenCode` emits a primitive loop over the columnar ArrayData —
  * the generated Java inlines into the surrounding stage like any
  * built-in. Arithmetic is identical to the library kernels
  * (left-to-right double summation), so results stay oracle-exact.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  /** Enforced at analysis time: without this, array<double> input
    * would pass BinaryExpression's default no-op check and getFloat
    * would read 4-byte halves of 8-byte doubles — silently wrong
    * scores. Callers with double arrays must cast("array<float>")
    * explicitly (and knowingly drop precision). */
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = ArrayType(FloatType)
    def base(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (base(left.dataType) && base(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two ${ok.simpleString} arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch is always a data error (mixed embedding
    // versions); surface it instead of a plausible truncated score
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: mismatched vector lengths ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: mismatched vector lengths " + $a.numElements() +
         |    " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Integer sibling of [[DotProduct]]: exact long dot product of two
  * `array<bigint>` columns — the hot kernel of quantized-vector
  * operators (KMeans distances, semantic-dedup cosine numerators),
  * where the HOF `aggregate(zip_with(...))` fold never enters
  * whole-stage codegen and dominates candidate-pair joins.
  * Arithmetic contract: the caller bounds components so every
  * partial product and sum fits a long (milliunit quantization of
  * unit vectors gives |v_i| <= ~1000 — headroom of ~2^43 at dim 64);
  * ANSI overflow would throw rather than wrap silently. A null
  * ELEMENT on either side nulls the result — the same semantics as
  * the `aggregate(zip_with(...))` fold this kernel replaces, never a
  * silent zero-substitution. */
case class DotProductLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  // nullable even for non-null array columns: element nulls null the
  // result
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot_long requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"graft_dot_long: mismatched vector lengths ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_long: mismatched vector lengths " + $a.numElements() +
         |    " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Packed sign-signature kernel: all `planes.length` hyperplane sign
  * bits of one integer vector in a single expression. The naive
  * composition (64 [[DotProductLong]]s against 64 literal arrays) is
  * a ~4096-node expression tree — Catalyst collapses it into the
  * projection above a join, the generated method blows past JIT
  * limits and evaluation degrades to interpreted tree-walking
  * (measured 10.4 s vs 0.2 s for the same signatures at sf0.1). Here
  * the planes ship as ONE referenced long[][] and both eval paths
  * run a primitive bits×dims loop — compact generated code that
  * inlines into the surrounding stage.
  * Arithmetic contract identical to the unrolled form: left-to-right
  * long summation per bit, bit set when the projection is >= 0,
  * powers of two are carry-free so |= equals the oracle's sum. A
  * null ELEMENT nulls the signature; a length mismatch vs the plane
  * width throws (mixed embedding versions are a data error).
  *
  * The plane matrix is held as `Seq[Seq[Long]]`, NOT `Array`: case
  * class equality on an Array field is reference equality, so two
  * plans building the same planes independently would never
  * `sameResult` — defeating every canonical-plan comparison
  * (CacheManager reuse, PersistSlots cross-slot sharing, exchange
  * reuse) for any plan containing the kernel. Seq equality is
  * structural. Both eval paths run over a memoized primitive
  * `long[][]` so the hot loop costs the same as before. */
case class SignSignature(child: Expression, planes: Seq[Seq[Long]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val planeMatrix: Array[Array[Long]] =
    planes.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_signature requires an array<bigint> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val planes = planeMatrix
    val dim = planes(0).length
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_sign_signature: vector length ${x.numElements()} != plane width $dim")
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      val pb = planes(b)
      var s = 0L
      var d = 0
      while (d < dim) {
        if (x.isNullAt(d)) return null
        s += x.getLong(d) * pb(d)
        d += 1
      }
      if (s >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planeMatrix, "long[][]")
      val sig = ctx.freshName("sig")
      val b = ctx.freshName("b")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val pb = ctx.freshName("pb")
      val dim = ctx.freshName("dim")
      s"""
         |int $dim = $p[0].length;
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_sign_signature: vector length " + $a.numElements() +
         |    " != plane width " + $dim);
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < $p.length && !${ev.isNull}; $b++) {
         |  long[] $pb = $p[$b];
         |  long $s = 0L;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($a.isNullAt($d)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($d) * $pb[$d];
         |  }
         |  if (!${ev.isNull} && $s >= 0) $sig |= (1L << $b);
         |}
         |if (!${ev.isNull}) ${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignSignature =
    copy(child = newChild)
}

/** Multi-table random-hyperplane LSH bucket signature of a FLOAT
  * vector: element t of the result is the `nPlanes`-bit sign bucket
  * of plane family t — the whole signature (tables × nPlanes dot
  * products) in ONE codegen'd expression. Replaces the memoized
  * ScalaUDF that previously computed this: the UDF blocked
  * whole-stage codegen and paid per-row ser/de on the hottest dedup
  * expression ([[graft.operators.Similarity]]'s banded frame), and
  * its plan equality rested on closure-identity memoization —
  * here the case class holds only the (dim, nPlanes, tables)
  * parameter triple, so two independently-built identical plans
  * compare `sameResult` structurally and the MD5-derived plane
  * matrix is re-derived (memoized) on demand.
  *
  * Arithmetic contract identical to the UDF and the SQL oracle
  * replay: per plane, a left-to-right double sum over
  * min(|v|, dim) components (the oracle's `coalesce(v[i], 0)`
  * truncation guard), bit set when the projection is >= 0. A null
  * ELEMENT contributes 0 — exactly the oracle's coalesce semantics.
  */
case class FloatLshBuckets(child: Expression, dim: Int, nPlanes: Int,
                           tables: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(dim >= 1 && nPlanes >= 1 && nPlanes <= 63 && tables >= 1,
    s"graft_lsh_buckets: bad parameters (dim=$dim, nPlanes=$nPlanes, tables=$tables)")

  @transient private lazy val planes: Array[Array[Double]] =
    FloatLshBuckets.planeMatrix(dim, nPlanes, tables)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires an array<float> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    FloatLshBuckets.evalBuckets(v, planes, dim, nPlanes, tables)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "double[][]")
      s"""${ev.value} = graft.plans.FloatLshBuckets.evalBuckets(
         |  $a, $p, $dim, $nPlanes, $tables);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatLshBuckets =
    copy(child = newChild)
}

object FloatLshBuckets {

  /** Deterministic pseudo-random hyperplane component: MD5 of
    * (plane, dim) → first 12 hex digits → uniform in [-1, 1).
    * Public within graft so the oracle generators can inline the
    * plane constants as SQL literals (Double.toString round-trips). */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    // 48-bit hash / 2^48 -> [0, 1), scaled to [-1, 1). (A previous
    // /2^47 variant mapped to [-1, 3): heavily positive-biased planes
    // whose sign bits correlate, inflating bucket collision rates.)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 48).toDouble * 2.0 - 1.0
  }

  // memoized per parameter triple: the derivation runs one MD5 per
  // component (tables x nPlanes x dim), and every codegen'd task
  // deserializes its own expression instance
  private val matrixCache = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int), Array[Array[Double]]]

  private[graft] def planeMatrix(dim: Int, nPlanes: Int,
                                 tables: Int): Array[Array[Double]] =
    matrixCache.getOrElseUpdate((dim, nPlanes, tables),
      Array.tabulate(tables * nPlanes) { i =>
        val t = i / nPlanes; val p = i % nPlanes
        Array.tabulate(dim)(d => planeComponent(100 * t + p, d))
      })

  /** The shared hot loop — called from both the interpreted eval and
    * the generated code (no UDF ser/de; the call inlines into the
    * surrounding whole-stage-codegen projection).
    *
    * NOT named `eval`: the companion case class inherits
    * `Expression.eval`, and scalac suppresses an object's static
    * forwarder when the companion class has a method of the same
    * name — generated Java then resolves
    * `graft.plans.FloatLshBuckets.eval(...)` to the INSTANCE method
    * and janino rejects the whole stage, silently dropping every
    * LSH plan to interpreted execution (caught by the
    * generated-code-compiles spec). */
  def evalBuckets(v: ArrayData, planes: Array[Array[Double]], dim: Int,
           nPlanes: Int, tables: Int): ArrayData = {
    val nv = v.numElements()
    val n = math.min(nv, dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val plane = planes(t * nPlanes + p)
        var s = 0.0
        var d = 0
        while (d < n) {
          if (!v.isNullAt(d)) s += v.getFloat(d).toDouble * plane(d)
          d += 1
        }
        if (s >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Centroid matrix embedded in [[NearestCentroidLong]] behind a
  * content digest: the expression's docstring targets k in the
  * thousands-to-millions (autoK), and holding the matrix
  * structurally made every plan transform / sameResult check touch
  * an O(k*dim) value (round-12 advice). Equality compares the
  * 128-bit MD5 of the sorted (id, dims) content — two
  * independently-built identical centroid sets still compare equal
  * (the PersistSlots plan-reuse contract), plan comparison is O(1). */
final class CentroidsLongRef(centroids: Seq[(Int, Seq[Long])])
    extends Serializable {
  require(centroids.nonEmpty, "graft_nearest_centroid: empty centroid set")

  /** Centroid count — kept as a plain field for equals/toString (the
    * matrix itself ships behind the broadcast handle below). */
  val k: Int = centroids.length

  // primitive mirror built ONCE on the driver, shipped via a
  // broadcast handle (optimization round 17, see [[BcRef]]): the
  // previous shape serialized the Seq structurally with the
  // expression — every task re-deserialized the O(k·dim) matrix and
  // rebuilt the primitive mirror — the fat-literal per-task tax
  // behind the round-16 PQ/IVF fan-out opt-outs.
  private val bc: BcRef[(Array[Int], Array[Array[Long]])] = BcRef {
    val sorted = centroids.sortBy(_._1)
    (sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray)
  }
  def idArr: Array[Int] = bc.value._1
  def matArr: Array[Array[Long]] = bc.value._2

  // digest EAGER (round 17): on the driver, before the payload ships
  private val digest: (Long, Long) = ContentDigest.md5 { f =>
    f.int(centroids.length)
    centroids.sortBy(_._1).foreach { case (id, v) =>
      f.int(id); f.int(v.length); v.foreach(f.long)
    }
  }

  override def equals(other: Any): Boolean = other match {
    case that: CentroidsLongRef =>
      (this eq that) || (k == that.k && digest == that.digest)
    case _ => false
  }
  override def hashCode(): Int = digest._1.toInt
  // appears in plan strings — a fingerprint, never the matrix
  override def toString: String =
    f"centroids(k=$k,md5=${digest._1}%016x)"
}

/** Nearest quantized centroid of an `array<bigint>` vector: argmin
  * exact integer squared-L2 over the centroid matrix, smallest
  * centroid id on ties. Replaced the per-row ScalaUDF kernel in
  * [[graft.operators.KMeans.assignTo]]: the UDF
  * blocked whole-stage codegen and paid boxed ser/de per row on
  * corpus-wide assignment passes (k-means fit, IVF+PQ coarse
  * quantization). One compact k×dim loop at ANY k — unlike the
  * per-centroid expression expansion, generated-method size does not
  * grow with k.
  *
  * Arithmetic contract identical to both prior forms: exact long
  * (v_j - c_j)^2 sums over min(|v|, dim), ids scanned in ascending
  * order with strict `<` (smallest id wins ties). A null ELEMENT
  * nulls the result — the same null-propagating semantics as the
  * expression form's [[DotProductLong]] arithmetic (the two paths
  * must stay bit-identical on all inputs).
  */
case class NearestCentroidLong(child: Expression, cents: CentroidsLongRef)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // interpreted path: resolve the broadcast once per (deserialized)
  // expression instance, not per row
  @transient private lazy val idArr: Array[Int] = cents.idArr
  @transient private lazy val matArr: Array[Array[Long]] = cents.matArr

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  // nullable even over non-null input: element nulls null the result
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid requires an array<bigint> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    NearestCentroidLong.assignNearest(a.asInstanceOf[ArrayData], idArr, matArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // ship the O(1) ref, resolve the broadcast payload once per
      // task in the generated class init (addReferenceObj on the
      // resolved arrays would re-embed them in the per-task codegen
      // references — the tax BcRef removes)
      val ref = ctx.addReferenceObj("centroidsRef", cents,
        classOf[CentroidsLongRef].getName)
      val ids = ctx.addMutableState("int[]", "centroidIds",
        v => s"$v = $ref.idArr();")
      val mat = ctx.addMutableState("long[][]", "centroidMat",
        v => s"$v = $ref.matArr();")
      val r = ctx.freshName("assigned")
      s"""
         |InternalRow $r = graft.plans.NearestCentroidLong.assignNearest(
         |  $a, $ids, $mat);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidLong =
    copy(child = newChild)
}

object NearestCentroidLong {

  /** Shared hot loop of both eval paths (NOT named `eval` — see
    * [[FloatLshBuckets.evalBuckets]] on the suppressed-static-
    * forwarder trap). Returns null on a null vector element. */
  def assignNearest(v: ArrayData, ids: Array[Int],
                    mat: Array[Array[Long]]): InternalRow = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    var bestC = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < mat.length) {
      val cent = mat(c)
      var d = 0L
      var j = 0
      val m = math.min(n, cent.length)
      while (j < m) { val dt = v.getLong(j) - cent(j); d += dt * dt; j += 1 }
      if (d < bestD) { bestD = d; bestC = ids(c) }
      c += 1
    }
    InternalRow(bestC, bestD)
  }
}

/** Shared float-centroid scoring for the IVF cell expressions:
  * round-to-6 cosine of a float vector against every centroid,
  * index-order double sums, NaN mapped to -2.0 — the exact
  * arithmetic of [[graft.operators.Similarity]]'s `centroidScores`
  * (which the driver-side single-query probe still uses), pinned
  * equivalent by VectorExpressionsSpec. A null vector ELEMENT
  * contributes 0 to both the dot and the norm (the SQL oracle's
  * `coalesce(v[i], 0)` semantics; corpus embeddings carry no element
  * nulls). */
object CellScoring {

  def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def score(v: ArrayData, cv: Array[Float], sv: Double,
                    sc: Double): Double = {
    var s = 0.0
    var d = 0
    val n = math.min(v.numElements(), cv.length)
    while (d < n) {
      if (!v.isNullAt(d)) s += v.getFloat(d).toDouble * cv(d).toDouble
      d += 1
    }
    val cosine = s / math.sqrt(sv * sc)
    if (cosine.isNaN) -2.0 else round6(cosine)
  }

  private def selfNorm(v: ArrayData): Double = {
    var sv = 0.0
    var i = 0
    val nv = v.numElements()
    while (i < nv) {
      if (!v.isNullAt(i)) {
        val x = v.getFloat(i).toDouble
        sv += x * x
      }
      i += 1
    }
    sv
  }

  /** Argmax rounded cosine, smallest cid on ties (cids arrive sorted
    * ascending, so strict `>` keeps the first). */
  def nearestCell(v: ArrayData, cids: Array[Long], vecs: Array[Array[Float]],
                  norms: Array[Double]): Long = {
    val sv = selfNorm(v)
    var bestCid = -1L
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < vecs.length) {
      val s = score(v, vecs(i), sv, norms(i))
      if (s > bestS) { bestS = s; bestCid = cids(i) }
      i += 1
    }
    bestCid
  }

  /** The nProbe nearest cell ids, ordered (score desc, cid asc) —
    * bounded insertion over the centroid scan, equivalent to the
    * driver probe's full sortBy((-s, cid)).take(nProbe). */
  def probeCells(v: ArrayData, cids: Array[Long], vecs: Array[Array[Float]],
                 norms: Array[Double], nProbe: Int): ArrayData = {
    val sv = selfNorm(v)
    val n = math.min(nProbe, vecs.length)
    val topS = new Array[Double](n)
    val topC = new Array[Long](n)
    var filled = 0
    var i = 0
    while (i < vecs.length) {
      val cid = cids(i)
      val s = score(v, vecs(i), sv, norms(i))
      // find insertion point: before the first kept entry that is
      // strictly worse ((s, -cid) lexicographically larger wins)
      if (filled < n || s > topS(n - 1) ||
          (s == topS(n - 1) && cid < topC(n - 1))) {
        var p = math.min(filled, n - 1)
        while (p > 0 && (s > topS(p - 1) ||
            (s == topS(p - 1) && cid < topC(p - 1)))) {
          topS(p) = topS(p - 1); topC(p) = topC(p - 1); p -= 1
        }
        topS(p) = s; topC(p) = cid
        if (filled < n) filled += 1
      }
      i += 1
    }
    new GenericArrayData(topC.take(filled))
  }
}

/** Float centroid/cell matrix embedded in [[NearestCellFloat]] /
  * [[ProbeCellsFloat]] behind a content digest — the same
  * plan-comparison-cost fix as [[CentroidsLongRef]] (cell counts
  * scale ~n/B with the corpus under autoK). Carries the primitive
  * mirror (sorted ids, vectors, precomputed |c|^2 norms), rebuilt
  * lazily per deserialized instance. */
final class CellsFloatRef(centroids: Seq[(Long, Seq[Float])])
    extends Serializable {
  require(centroids.nonEmpty, "graft cell expressions: empty centroid set")

  /** Cell count — plain field for equals/toString; the matrix ships
    * behind the broadcast handle below (see [[CentroidsLongRef]]). */
  val k: Int = centroids.length

  private val bc: BcRef[(Array[Long], Array[Array[Float]], Array[Double])] =
    BcRef {
      val sorted = centroids.sortBy(_._1)
      val vecs = sorted.map(_._2.toArray).toArray
      (sorted.map(_._1).toArray, vecs,
        vecs.map(cv => cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    }
  def cidArr: Array[Long] = bc.value._1
  def vecArr: Array[Array[Float]] = bc.value._2
  def normArr: Array[Double] = bc.value._3

  // digest EAGER (round 17): on the driver, before the payload ships
  private val digest: (Long, Long) = ContentDigest.md5 { f =>
    f.int(centroids.length)
    centroids.sortBy(_._1).foreach { case (id, v) =>
      f.long(id); f.int(v.length)
      v.foreach(x => f.int(java.lang.Float.floatToIntBits(x)))
    }
  }

  override def equals(other: Any): Boolean = other match {
    case that: CellsFloatRef =>
      (this eq that) || (k == that.k && digest == that.digest)
    case _ => false
  }
  override def hashCode(): Int = digest._1.toInt
  override def toString: String =
    f"cells(k=$k,md5=${digest._1}%016x)"
}

/** Codegen'd IVF cell assignment: nearest-centroid id (argmax
  * round-to-6 cosine, cid tiebreak) of an `array<float>` vector —
  * replaces the broadcast-closure ScalaUDF in
  * [[graft.operators.Similarity.ivfTopK]] / PQ's `ivfpqTopK` that
  * blocked whole-stage codegen on the corpus-wide assignment scan.
  * Centroids ride a content-digest ref ([[CellsFloatRef]]) so two
  * independently-built identical plans compare `sameResult` in O(1). */
case class NearestCellFloat(child: Expression, cells: CellsFloatRef)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val cidArr: Array[Long] = cells.cidArr
  @transient private lazy val vecArr: Array[Array[Float]] = cells.vecArr
  @transient private lazy val normArr: Array[Double] = cells.normArr

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cell requires an array<float> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    CellScoring.nearestCell(a.asInstanceOf[ArrayData], cidArr, vecArr, normArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // ship the ref, resolve once per task (see NearestCentroidLong)
      val ref = ctx.addReferenceObj("cellsRef", cells,
        classOf[CellsFloatRef].getName)
      val cids = ctx.addMutableState("long[]", "cellIds",
        v => s"$v = $ref.cidArr();")
      val vecs = ctx.addMutableState("float[][]", "cellVecs",
        v => s"$v = $ref.vecArr();")
      val norms = ctx.addMutableState("double[]", "cellNorms",
        v => s"$v = $ref.normArr();")
      s"""${ev.value} = graft.plans.CellScoring.nearestCell(
         |  $a, $cids, $vecs, $norms);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCellFloat =
    copy(child = newChild)
}

/** Codegen'd IVF query probing: the `nProbe` nearest cell ids
  * (round-to-6 cosine desc, cid asc) of an `array<float>` query
  * vector — the sibling of [[NearestCellFloat]] for the probe side
  * of [[graft.operators.Similarity.ivfTopK]]. */
case class ProbeCellsFloat(child: Expression, cells: CellsFloatRef,
                           nProbe: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nProbe >= 1, s"graft_probe_cells: nProbe must be >= 1, got $nProbe")

  @transient private lazy val cidArr: Array[Long] = cells.cidArr
  @transient private lazy val vecArr: Array[Array[Float]] = cells.vecArr
  @transient private lazy val normArr: Array[Double] = cells.normArr

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_probe_cells requires an array<float> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    CellScoring.probeCells(a.asInstanceOf[ArrayData], cidArr, vecArr,
      normArr, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // ship the ref, resolve once per task (see NearestCentroidLong)
      val ref = ctx.addReferenceObj("cellsRef", cells,
        classOf[CellsFloatRef].getName)
      val cids = ctx.addMutableState("long[]", "cellIds",
        v => s"$v = $ref.cidArr();")
      val vecs = ctx.addMutableState("float[][]", "cellVecs",
        v => s"$v = $ref.vecArr();")
      val norms = ctx.addMutableState("double[]", "cellNorms",
        v => s"$v = $ref.normArr();")
      s"""${ev.value} = graft.plans.CellScoring.probeCells(
         |  $a, $cids, $vecs, $norms, $nProbe);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ProbeCellsFloat =
    copy(child = newChild)
}

object VectorExpressions {
  import org.apache.spark.sql.graftglue.Bridge
  import org.apache.spark.sql.functions.{sqrt => sqrtCol}

  /** Column API over the native expression. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrtCol(dot(a, a) * dot(b, b))

  /** Exact long dot product (codegen'd) over array<bigint> columns. */
  def dotLong(a: Column, b: Column): Column =
    Bridge.column(DotProductLong(Bridge.expression(a), Bridge.expression(b)))

  /** Packed hyperplane sign signature (codegen'd) of an array<bigint>
    * vector against a bits x dim integer plane matrix. The matrix is
    * stored structurally (Seq of Seq) inside the expression so two
    * independently-built identical plans compare `sameResult`. */
  def signSignature(v: Column, planes: Array[Array[Long]]): Column =
    Bridge.column(SignSignature(Bridge.expression(v),
      planes.map(_.toSeq).toSeq))

  /** Multi-table random-hyperplane LSH bucket array (codegen'd) of an
    * array<float> vector — see [[FloatLshBuckets]]. */
  def lshBuckets(v: Column, dim: Int, nPlanes: Int, tables: Int): Column =
    Bridge.column(FloatLshBuckets(Bridge.expression(v), dim, nPlanes, tables))

  /** Nearest quantized centroid (codegen'd): struct(cluster, dist)
    * of an array<bigint> vector — see [[NearestCentroidLong]]. */
  def nearestCentroidLong(v: Column, centroids: Seq[(Int, Seq[Long])]): Column =
    Bridge.column(NearestCentroidLong(Bridge.expression(v),
      new CentroidsLongRef(centroids)))

  /** Nearest IVF cell id (codegen'd) of an array<float> vector —
    * see [[NearestCellFloat]]. */
  def nearestCell(v: Column, centroids: Seq[(Long, Seq[Float])]): Column =
    Bridge.column(NearestCellFloat(Bridge.expression(v),
      new CellsFloatRef(centroids)))

  /** The nProbe nearest IVF cell ids (codegen'd) of an array<float>
    * query vector — see [[ProbeCellsFloat]]. */
  def probeCells(v: Column, centroids: Seq[(Long, Seq[Float])],
                 nProbe: Int): Column =
    Bridge.column(ProbeCellsFloat(Bridge.expression(v),
      new CellsFloatRef(centroids), nProbe))
}
