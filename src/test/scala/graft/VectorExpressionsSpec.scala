package graft

import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions

/** The native DotProduct expression: correctness vs the kernel,
  * codegen path, and SQL registration via GraftExtensions. */
class VectorExpressionsSpec extends SparkSpec {

  test("native dot matches manual double summation and handles nulls") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -1.5f), Array(2.0f, 2.0f))
    ).toDF("a", "b")
    val got = df.select(VectorExpressions.dot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) == (1.0f.toDouble * 4.0f + 2.0f.toDouble * 5.0f + 3.0f.toDouble * 6.0f))
    assert(got(1) == (0.5f.toDouble * 2.0f + (-1.5f).toDouble * 2.0f))

    val withNull = df.withColumn("a", when(lit(true), lit(null).cast("array<float>")))
    assert(withNull.select(VectorExpressions.dot(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("native dot agrees with the embeddings oracle arithmetic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib"))
    val viaExpr = pairs.select(
      round(VectorExpressions.cosine(col("va"), col("vb")), 6).as("c")).collect()
    val viaKernel = pairs.select(
      round(graft.operators.Similarity.cosine(col("va"), col("vb")), 6).as("c")).collect()
    assert(viaExpr.map(_.getDouble(0)).toSeq == viaKernel.map(_.getDouble(0)).toSeq)
  }

  test("whole-stage codegen survives the expression") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = emb.select(VectorExpressions.dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage containing the projection
    assert(plan.startsWith("*("), s"no codegen in:\n$plan")
  }

  test("graft_dot registers as a SQL function") {
    val r = spark.sql(
      """SELECT graft_dot(array(cast(1.0 AS float), cast(2.0 AS float)),
        |                 array(cast(3.0 AS float), cast(4.0 AS float))) AS d""".stripMargin)
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("long dot matches the interpreted fold, keeps codegen, registers in SQL") {
    import spark.implicits._
    val df = Seq(
      (Array(3L, -4L, 5L), Array(7L, 2L, -1L)),
      (Array(1000L, -1000L, 999L), Array(-999L, 1000L, 1000L))
    ).toDF("a", "b")
    val got = df.select(VectorExpressions.dotLong(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val want = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)).collect().map(_.getLong(0))
    assert(got.toSeq == want.toSeq)

    // codegen check needs a real scan — a local Seq constant-folds
    // into LocalTableScan with no codegen stage to observe
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<bigint>").as("v"))
    val plan = emb.select(VectorExpressions.dotLong(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.startsWith("*("), s"no codegen in:\n$plan")

    assert(spark.sql(
      "SELECT graft_dot_long(array(2L, 3L), array(5L, 7L)) AS d")
      .head().getLong(0) == 31L)

    // null propagates — a null ARRAY and a null ELEMENT both null the
    // result (same as the aggregate/zip_with fold; never a silent 0)
    val withNull = df.withColumn("a", lit(null).cast("array<bigint>"))
    assert(withNull.select(VectorExpressions.dotLong(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
    val withNullElem = spark.sql(
      "SELECT array(1L, CAST(NULL AS BIGINT), 3L) AS a, array(1L, 2L, 3L) AS b")
    assert(withNullElem.select(VectorExpressions.dotLong(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
    val mismatch = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
    intercept[Exception] {
      mismatch.select(VectorExpressions.dotLong(col("a"), col("b"))).collect()
    }
  }

  test("sign signature kernel: bit semantics, eval-path parity, null/mismatch handling") {
    import spark.implicits._
    // planes chosen so the expected bits are hand-computable
    val planes = Array(Array(1L, 0L), Array(-1L, 0L), Array(0L, 1L))
    def sig(v: Array[Long]) = Seq(Tuple1(v)).toDF("v")
      .select(VectorExpressions.signSignature(col("v"), planes)).collect()(0)
    // v = (5, -2): bits = [5>=0, -5>=0, -2>=0] = 1,0,0 -> sig 1
    assert(sig(Array(5L, -2L)).getLong(0) == 1L)
    // v = (-3, 4): bits = [0, 1, 1] -> 6
    assert(sig(Array(-3L, 4L)).getLong(0) == 6L)
    // zero projection counts as a set bit (>= 0)
    assert(sig(Array(0L, 0L)).getLong(0) == 7L)
    // interpreted path (nullSafeEval) must agree with codegen: force
    // it through a deserialized local relation vs the same literal
    val df = (1 to 50).map(i => Array(i.toLong, -i * 3L)).toDF("v")
    val viaPlan = df.select(
      VectorExpressions.signSignature(col("v"), planes).as("s"))
      .collect().map(_.getLong(0)).toSeq
    val expected = (1 to 50).map { i =>
      val v = Array(i.toLong, -i * 3L)
      (0 until 3).map { b =>
        val s = v(0) * planes(b)(0) + v(1) * planes(b)(1)
        if (s >= 0) 1L << b else 0L
      }.sum
    }
    assert(viaPlan == expected)
    // null element nulls the signature
    val withNull = Seq(Tuple1(Array[java.lang.Long](1L, null))).toDF("v")
      .select(VectorExpressions.signSignature(col("v").cast("array<bigint>"), planes))
    assert(withNull.collect()(0).isNullAt(0))
    // length mismatch is a data error, not a truncated signature
    intercept[Exception] {
      Seq(Tuple1(Array(1L))).toDF("v")
        .select(VectorExpressions.signSignature(col("v"), planes)).collect()
    }
  }

  test("lshBuckets expression matches a plain-Scala replica and stays codegen'd") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (dim, nPlanes, tables) = (64, 6, 4)
    val sel = emb.select(col("vec_id"),
      VectorExpressions.lshBuckets(col("embedding"), dim, nPlanes, tables).as("bk"))
    // whole-stage codegen survives the expression (the old ScalaUDF
    // form broke the stage here)
    assert(sel.queryExecution.executedPlan.toString.startsWith("*("),
      "lshBuckets fell out of whole-stage codegen")
    val got = sel.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // plain-Scala replica of the contract: per plane a left-to-right
    // double sum over min(|v|, dim) components, bit set when >= 0
    val planes = Array.tabulate(tables * nPlanes) { i =>
      val t = i / nPlanes; val p = i % nPlanes
      Array.tabulate(dim)(d =>
        graft.plans.FloatLshBuckets.planeComponent(100 * t + p, d))
    }
    val raw = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    raw.foreach { case (id, v) =>
      val exp = (0 until tables).map { t =>
        var bucket = 0L
        (0 until nPlanes).foreach { p =>
          val plane = planes(t * nPlanes + p)
          var s = 0.0
          (0 until math.min(v.length, dim)).foreach(d => s += v(d).toDouble * plane(d))
          if (s >= 0) bucket |= (1L << p)
        }
        bucket
      }
      assert(got(id) == exp, s"vec_id=$id")
    }
  }

  test("lshBuckets GENERATED code actually compiles (no silent " +
    "interpreted fallback) and agrees with the interpreted eval") {
    // "plan starts with *(" is NOT sufficient: WholeStageCodegen wraps
    // the plan before janino runs, and a compile failure falls back to
    // interpreted execution silently AT RUNTIME (this caught a missing
    // static forwarder: a companion-object helper named `eval` clashes
    // with Expression.eval, scalac suppresses the forwarder, and the
    // generated call resolves to the instance method). Force the
    // compile with GenerateUnsafeProjection — it throws, never falls
    // back.
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    for (nPlanes <- Seq(6, 12, 16)) { // incl. the 100x-scale auto sizes
      val expr = graft.plans.FloatLshBuckets(
        BoundReference(0, ArrayType(FloatType), nullable = false),
        64, nPlanes, 4)
      val proj = GenerateUnsafeProjection.generate(Seq(Alias(expr, "bk")()))
      val v = Array.tabulate(64)(i => (math.sin(i + 1) * 0.7).toFloat)
      val row = org.apache.spark.sql.catalyst.InternalRow(
        ArrayData.toArrayData(v))
      val gen = proj(row).getArray(0).toLongArray().toSeq
      val interp = expr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(gen == interp && gen.length == 4, s"nPlanes=$nPlanes")
    }
  }

  test("every custom expression's generated code force-compiles and " +
    "agrees with its interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val fv = ArrayData.toArrayData(
      Array.tabulate(64)(i => (math.cos(i + 1) * 0.6).toFloat))
    val lv = ArrayData.toArrayData(Array.tabulate(64)(i => (i * 7 - 200).toLong))
    val cases: Seq[(String, Expression, InternalRow)] = Seq(
      ("GearBoundaries",
        graft.plans.GearBoundaries(
          BoundReference(0, StringType, nullable = false), 16, 4),
        InternalRow(UTF8String.fromString("the quick brown fox " * 20))),
      ("GearBinaryBoundaries",
        graft.plans.GearBinaryBoundaries(
          BoundReference(0, BinaryType, nullable = false), 16, 4),
        InternalRow(Array.tabulate[Byte](400)(i => (i * 31 % 251).toByte))),
      ("SignSignature",
        graft.plans.SignSignature(
          BoundReference(0, ArrayType(LongType), nullable = false),
          Seq.tabulate(8)(p => Seq.tabulate(64)(d => ((p * 64 + d) * 37 % 101 - 50).toLong))),
        InternalRow(lv)),
      ("DotProduct",
        graft.plans.DotProduct(
          BoundReference(0, ArrayType(FloatType), nullable = false),
          BoundReference(0, ArrayType(FloatType), nullable = false)),
        InternalRow(fv)),
      ("DotProductLong",
        graft.plans.DotProductLong(
          BoundReference(0, ArrayType(LongType), nullable = true),
          BoundReference(0, ArrayType(LongType), nullable = true)),
        InternalRow(lv)),
      ("CharProfile",
        graft.plans.CharProfile(
          BoundReference(0, StringType, nullable = false)),
        InternalRow(UTF8String.fromString("aabbc"))),
      ("NearestCellFloat",
        graft.plans.NearestCellFloat(
          BoundReference(0, ArrayType(FloatType), nullable = false),
          new graft.plans.CellsFloatRef(Seq.tabulate(5)(c => (c.toLong,
            Seq.tabulate(64)(d => (math.sin(c * 64 + d + 1) * 0.5).toFloat))))),
        InternalRow(fv)),
      ("ProbeCellsFloat",
        graft.plans.ProbeCellsFloat(
          BoundReference(0, ArrayType(FloatType), nullable = false),
          new graft.plans.CellsFloatRef(Seq.tabulate(5)(c => (c.toLong,
            Seq.tabulate(64)(d => (math.sin(c * 64 + d + 1) * 0.5).toFloat)))),
          nProbe = 3),
        InternalRow(fv)))
    cases.foreach { case (name, expr, row) =>
      val proj = GenerateUnsafeProjection.generate(Seq(Alias(expr, "x")()))
      val gen = proj(row).get(0, expr.dataType)
      val interp = expr.eval(row)
      val norm = (x: Any) => x match {
        case a: ArrayData => expr.dataType match {
          case ArrayType(LongType, _) => a.toLongArray().toSeq
          case _ => a.toIntArray().toSeq
        }
        // UnsafeRow (generated) vs GenericInternalRow (interpreted):
        // compare field-by-field through the declared struct type
        case r: InternalRow => expr.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.indices.map(i => r.get(i, st.fields(i).dataType)).toSeq
          case _ => r
        }
        case other => other
      }
      assert(norm(gen) == norm(interp), name)
      assert(interp != null, s"$name interpreted eval returned null")
    }
  }

  test("NearestCentroidLong force-compiles; struct result matches " +
    "interpreted eval; null element nulls the struct") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val cents = Seq.tabulate(7)(c =>
      (c, Seq.tabulate(16)(d => ((c * 16 + d) * 13 % 61 - 30).toLong)))
    val expr = graft.plans.NearestCentroidLong(
      BoundReference(0, ArrayType(LongType), nullable = true),
      new graft.plans.CentroidsLongRef(cents))
    val proj = GenerateUnsafeProjection.generate(Seq(Alias(expr, "a")()))
    val v = ArrayData.toArrayData(Array.tabulate(16)(i => (i * 5 - 30).toLong))
    val row = InternalRow(v)
    val genRow = proj(row).getStruct(0, 2)
    val interp = expr.eval(row).asInstanceOf[InternalRow]
    assert(genRow.getInt(0) == interp.getInt(0) &&
      genRow.getLong(1) == interp.getLong(1))
    // brute-force reference: strict < over ascending ids
    val vv = v.toLongArray()
    val best = cents.map { case (id, cv) =>
      (id, cv.zip(vv).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.minBy { case (id, d) => (d, id) }
    assert((interp.getInt(0), interp.getLong(1)) == best)
    // a null ELEMENT nulls the whole struct in both paths
    val withNull = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](16)(i => if (i == 3) null else (i * 5 - 30).toLong))
    val nullRow = InternalRow(withNull)
    assert(expr.eval(nullRow) == null)
    assert(proj(nullRow).isNullAt(0))
  }

  test("cell expressions agree with the driver-side probe helpers") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val dim = 32
    val cents: Seq[(Long, Seq[Float])] = Seq.tabulate(9)(c =>
      (c.toLong, Seq.tabulate(dim)(d => (math.cos(c * dim + d + 1) * 0.8).toFloat)))
    val collected = cents.map { case (cid, cv) =>
      (cid, cv.toArray, cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    }.toArray
    val assignE = graft.plans.NearestCellFloat(
      BoundReference(0, ArrayType(FloatType), nullable = false),
      new graft.plans.CellsFloatRef(cents))
    val probeE = graft.plans.ProbeCellsFloat(
      BoundReference(0, ArrayType(FloatType), nullable = false),
      new graft.plans.CellsFloatRef(cents), 4)
    // includes a zero vector (NaN cosine -> smallest cid) and near-tie
    // directions; every query must agree with Similarity's helpers
    val queries = Seq.tabulate(12)(qi =>
      Array.tabulate(dim)(d => (math.sin((qi + 1) * (d + 3)) * 0.9).toFloat)) :+
      Array.fill(dim)(0.0f)
    queries.foreach { q =>
      val row = InternalRow(ArrayData.toArrayData(q))
      assert(assignE.eval(row) ==
        graft.operators.Similarity.nearestCell(q.toSeq, collected))
      assert(probeE.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq ==
        graft.operators.Similarity.probeCells(q.toSeq, collected, 4))
    }
  }

  test("lshBuckets plan equality is structural (sameResult without memoization)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def mk() = emb.select(
      VectorExpressions.lshBuckets(col("embedding"), 64, 6, 4).as("bk"))
    // two independently-built identical plans must canonicalize equal
    // — the property PersistSlots / exchange reuse depend on
    assert(mk().queryExecution.analyzed.sameResult(mk().queryExecution.analyzed))
  }
}
