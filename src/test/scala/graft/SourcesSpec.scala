package graft

import org.apache.spark.sql.types._
import graft.operators.{ClusionInput, Clusions}
import graft.sources.Sources
import ClusionInput._

/** Pruning semantics pinned by avro_tests.py:206-250 (deep
  * include/exclude combos) plus parquet reader round-trips.
  */
class SourcesSpec extends SparkSpec {

  // record outer { oa: record {ia, ib}, ob: record {ia, ib} }
  private val inner = StructType(Seq(
    StructField("ia", IntegerType), StructField("ib", IntegerType)))
  private val outer = StructType(Seq(
    StructField("oa", inner), StructField("ob", inner)))

  private def prune(include: ClusionInput, exclude: ClusionInput): List[String] = {
    def leaves(st: StructType, prefix: String): List[String] =
      st.fields.toList.flatMap { f =>
        f.dataType match {
          case s: StructType => leaves(s, prefix + f.name + ".")
          case _ => List(prefix + f.name)
        }
      }
    leaves(Sources.pruneSchema(outer, Clusions.convert(include, exclude)), "")
  }

  test("no filter keeps all") {
    assert(prune(Empty, Empty) == List("oa.ia", "oa.ib", "ob.ia", "ob.ib"))
  }

  test("exclude subtree (avro_tests deep filter)") {
    assert(prune(Empty, Path("oa")) == List("ob.ia", "ob.ib"))
  }

  test("include-all plus deep re-include under exclude (avro_tests combo)") {
    // exclude='oa', include=[{}, 'oa.ia'] -> oa.ia, ob.ia, ob.ib
    val include = Many(Seq(Tree(Seq.empty), Path("oa.ia")))
    assert(prune(include, Path("oa")) == List("oa.ia", "ob.ia", "ob.ib"))
  }

  test("include only a deep leaf") {
    assert(prune(Path("oa.ia"), Empty) == List("oa.ia"))
  }

  test("include a subtree") {
    assert(prune(Path("ob"), Empty) == List("ob.ia", "ob.ib"))
  }

  test("exclude everything yields empty schema") {
    assert(prune(Empty, Many(Seq(Path("oa"), Path("ob")))) == Nil)
  }

  test("parquet reader prunes at scan time") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(100)
      .select(col("l_orderkey"),
        struct(col("l_quantity"), col("l_discount")).as("m"))
    li.write.mode("overwrite").parquet(s"$dir/t.parquet")

    val pruned = Sources.readParquet(spark, s"$dir/t.parquet", include = "m.l_quantity")
    assert(pruned.schema.catalogString == "struct<m:struct<l_quantity:double>>")
    assert(pruned.count() == 100)

    val excluded = Sources.readParquet(spark, s"$dir/t.parquet", exclude = "m")
    assert(excluded.columns.toList == List("l_orderkey"))
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def files(dir: String): List[String] =
    new java.io.File(dir).list().toList.sorted

  /** Writes one parquet file holding `cols` into `dir` under `name`. */
  private def writeOneFile(dir: String, name: String, cols: String*): Unit = {
    import spark.implicits._
    val staging = tempDir("graft_pq_one")
    Seq((1L, "x", 2.5)).toDF("a", "b", "c").select(cols.head, cols.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = files(staging).find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
    java.nio.file.Files.move(java.nio.file.Paths.get(staging, part),
      java.nio.file.Paths.get(dir, name))
  }

  /** The reader's schemas against Spark's own inference, which
    * `readParquet` replaced and which stays here as the oracle. The
    * full schema is checked on its own too: the pruned re-read adds
    * partition columns and nullability back whatever it is given. */
  private def assertSparkSchema(path: String): Unit = {
    val sparks = spark.read.parquet(path).schema
    assert(Sources.parquetSchema(spark, path) == sparks)
    assert(Sources.readParquet(spark, path).schema == sparks)
  }

  private def withSqlConf[T](key: String, value: String)(f: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def nestedFrame = {
    import org.apache.spark.sql.functions._
    spark.range(20).select(col("id"), (col("id") % 3).as("k"),
      struct(col("id").cast("int").as("x"), array(col("id")).as("xs")).as("s"))
  }

  test("parquet schema matches Spark's for one file") {
    val dir = tempDir("graft_pq_file")
    writeOneFile(dir, "one.parquet", "a", "c")
    assertSparkSchema(s"$dir/one.parquet")
  }

  test("parquet schema matches Spark's for part files, _SUCCESS and .crc") {
    val dir = tempDir("graft_pq_parts")
    nestedFrame.repartition(3).write.mode("overwrite").parquet(dir)
    assert(files(dir).contains("_SUCCESS") && files(dir).exists(_.endsWith(".crc")))
    // a first data file by path with fewer columns: the footer Spark
    // picks decides the schema, so picking another one would show
    writeOneFile(dir, "a-first.parquet", "a")
    assertSparkSchema(dir)
    assertSparkSchema(s"$dir/part-*")
  }

  test("parquet schema matches Spark's for a partitioned k=v directory") {
    val dir = tempDir("graft_pq_kv")
    nestedFrame.write.mode("overwrite").partitionBy("k").parquet(dir)
    assert(files(dir).exists(_.startsWith("k=")))
    assertSparkSchema(dir)
    assert(Sources.readParquet(spark, dir).columns.last == "k")
  }

  test("parquet schema matches Spark's with _common_metadata and _metadata") {
    val dir = tempDir("graft_pq_summary")
    nestedFrame.write.mode("overwrite")
      .option("parquet.summary.metadata.level", "ALL").parquet(dir)
    assert(files(dir).contains("_common_metadata") && files(dir).contains("_metadata"))
    // the summary wins over a first data file that disagrees with it
    writeOneFile(dir, "a-first.parquet", "a")
    assertSparkSchema(dir)
  }

  test("parquet schema matches Spark's with mergeSchema on") {
    val dir = tempDir("graft_pq_merge")
    writeOneFile(dir, "p1.parquet", "a", "b")
    writeOneFile(dir, "p2.parquet", "a", "c")
    withSqlConf("spark.sql.parquet.mergeSchema", "true") {
      assertSparkSchema(dir)
      assert(Sources.readParquet(spark, dir).columns.toSet == Set("a", "b", "c"))
    }
    assert(Sources.readParquet(spark, dir).columns.toList == List("a", "b"))
  }

  test("parquet reader errors are Spark's: missing path, empty directory, typo'd include") {
    import org.apache.spark.sql.AnalysisException
    def sameError(path: String, condition: String): Unit = {
      val ours = intercept[AnalysisException](Sources.readParquet(spark, path))
      val sparks = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition == condition)
      assert(ours.getMessage == sparks.getMessage)
    }
    sameError(tempDir("graft_pq_gone") + "/missing", "PATH_NOT_FOUND")
    sameError(tempDir("graft_pq_empty"), "UNABLE_TO_INFER_SCHEMA")
    val dir = tempDir("graft_pq_typo")
    writeOneFile(dir, "one.parquet", "a", "b")
    val e = intercept[IllegalArgumentException](
      Sources.readParquet(spark, dir, include = "nope"))
    assert(e.getMessage == "Unknown field 'nope' in clusion path 'nope'")
  }

  test("opening a schema-driven source starts no Spark job") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.Row
    val group = "sources-spec-flush"
    val dir = tempDir("graft_src_jobs")
    nestedFrame.write.parquet(s"$dir/pq")
    nestedFrame.write.orc(s"$dir/orc")
    val avroSchema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    graft.sources.avro.GraftAvroWriter.write(s"$dir/d.avro", avroSchema,
      Seq(Row(1L, "x"), Row(2L, "y")))
    graft.sources.ArrowSource.toArrowStream(nestedFrame.select("id", "k"), s"$dir/d.arrows")
    val pbd = java.nio.file.Paths.get(getClass.getResource("/pbd/example.pbd").toURI).toString

    /** Jobs started by `open`, counted once a marker job's end shows
      * that the listener bus has delivered every earlier event. */
    def jobsStarted(open: => Unit): Int = {
      val started = new java.util.concurrent.atomic.AtomicInteger()
      val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val flushed = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) markerJobs.add(e.jobId)
          else started.incrementAndGet()
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (markerJobs.contains(e.jobId)) flushed.countDown()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        open
        spark.sparkContext.setJobGroup(group, "listener flush")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.clearJobGroup()
        assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        started.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val opened = Map(
      "readParquet" -> jobsStarted(Sources.readParquet(spark, s"$dir/pq", include = "s.x")),
      "readAvro" -> jobsStarted(Sources.readAvro(spark, s"$dir/d.avro", include = "a")),
      "readOrc" -> jobsStarted(Sources.readOrc(spark, s"$dir/orc", include = "s.x")),
      "fromArrow" -> jobsStarted(Graft.fromArrow(spark, s"$dir/d.arrows")),
      "PbdSource.read" -> jobsStarted(graft.sources.pbd.PbdSource.read(spark, pbd)))
    assert(opened.forall(_._2 == 0), opened)
  }

  test("json reader infers and prunes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val p = java.nio.file.Paths.get(dir, "d.json")
    java.nio.file.Files.writeString(p,
      """{"a": 1, "b": {"c": "x", "d": 2.5}}
        |{"a": 2, "b": {"c": "y", "d": 3.5}, "e": true}
        |""".stripMargin)
    val df = Sources.readJson(spark, p.toString, exclude = "b.d")
    assert(df.schema.catalogString == "struct<a:bigint,b:struct<c:string>,e:boolean>")
    assert(df.count() == 2)
  }

  test("fromObjects + unionByNameAll backfills heterogeneous schemas") {
    import spark.implicits._
    val a = Seq((1.0, 2.0)).toDF("a", "b")
    val b = Seq((3.0, 4.0)).toDF("a", "c")
    val u = Sources.unionByNameAll(Seq(a, b)).orderBy("a")
    assert(u.columns.toList == List("a", "b", "c"))
    val rows = u.collect().map(_.toSeq.toList).toList
    assert(rows == List(List(1.0, 2.0, null), List(3.0, null, 4.0)))
  }
}
