package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, GraftFrame}
import graft.operators.{Curation, Dedup, FlattenJoin, Packing}

/** An output check that failed: the iteration counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One seeded workload driven through graft's public API. `iterate` is
  * one closed-loop iteration; it throws [[CheckFailed]] when its output
  * disagrees with the generator's ground truth. */
trait Workload {
  def name: String
  /** input records one iteration reads (for records_per_s) */
  def records: Long
  def beforeIteration(): Unit = ()
  def iterate(i: Int, t: Tracer): Unit
  /** per-layer values of the last traced iteration that only the
    * workload knows (row counts of its stages) */
  def iterationCounts: Map[String, Double] = Map.empty
  /** once per traced run, outside every iteration: counts that need a
    * query of their own */
  def extraCounts(): Map[String, Double] = Map.empty
}

object Workload {
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** Run `write` on `df` with an observed row count and content hash
    * riding the same job (see [[RowHash]]). */
  def observed(df: DataFrame, cols: Seq[String])(write: DataFrame => Unit): Digest = {
    val o = Observation()
    val hash = if (cols.isEmpty) lit(0L)
      else pmod(xxhash64(cols.sorted.map(c => col(s"`$c`")): _*), lit(RowHash.P))
    write(df.observe(o, count(lit(1)).as("n"), sum(hash).as("h")))
    val m = o.get
    Digest(m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** parquet data files under `dir`, partition directories included */
  def dataFiles(dir: File): Int =
    Option(dir.listFiles()).map(_.map { f =>
      if (f.isDirectory) dataFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum).getOrElse(0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def expect(truth: Map[String, String], key: String, got: Digest): Unit =
    check(got == Digest(truth(s"$key.rows").toLong, truth(s"$key.hash").toLong),
      s"$key: got $got, expected rows=${truth(s"$key.rows")} hash=${truth(s"$key.hash")}")
}

import Workload._

/** Decode and flatten each format: the paper's core read path. No
  * shuffle, no text kernels, no cache. */
final class NestedIngest(spark: SparkSession, dir: File) extends Workload {
  val name = "nested_ingest"
  private val truth = Gen.readProps(new File(dir, "truth.properties"))
  private def p(s: String) = new File(dir, s).getPath
  private val items = truth("items").toLong
  private val orders = truth("orders").toLong
  val records: Long = 6 * items + truth("json_items").toLong
  private var last = Map.empty[String, Double]
  override def iterationCounts: Map[String, Double] = last

  private def leaves(t: org.apache.spark.sql.types.DataType): Int = t match {
    case s: org.apache.spark.sql.types.StructType => s.fields.map(f => leaves(f.dataType)).sum
    case a: org.apache.spark.sql.types.ArrayType => leaves(a.elementType)
    case _ => 1
  }

  private def run(fmt: String, key: String, decoded: Long, expectCols: Seq[String],
                  read: => GraftFrame, flatten: GraftFrame => GraftFrame, t: Tracer): Long = {
    val in = t.span(s"sources.$fmt", "sources") {
      val df = t.plan(read)
      if (t.enabled) {
        // the read -> noop prefix on its own, so decode splits from flatten
        val n = t.execute(observed(df.df, Nil)(noop)).rows
        check(n == decoded, s"$fmt decoded $n records, expected $decoded")
      }
      df
    }
    t.span(s"flatten.$fmt", "flatten") {
      val flat = t.plan(flatten(in))
      check(flat.df.columns.sorted.toSeq == expectCols.sorted,
        s"$fmt columns ${flat.df.columns.mkString(",")}")
      val d = t.execute(observed(flat.df, expectCols)(noop))
      expect(truth, key, d)
      last += s"rows.$fmt" -> d.rows.toDouble
      last += s"decoded.$fmt" -> decoded.toDouble
      if (t.enabled && fmt == "parquet") {
        last += "clusions.leaves_kept" -> leaves(in.df.schema).toDouble
        last += "clusions.leaves_pruned" ->
          (leaves(spark.read.parquet(p("parquet")).schema) - leaves(in.df.schema)).toDouble
      }
      d.rows
    }
  }

  def iterate(i: Int, t: Tracer): Unit = {
    val itemCols = Gen.itemColumns.map(_._1)
    val tagCols = Gen.tagColumns.map(_._1)
    last = Map.empty
    val inner = run("parquet", "inner", orders, itemCols,
      Graft.fromParquet(spark, p("parquet"), include = Gen.itemInclude), _.flatten(), t)
    val outer = run("parquet_outer", "outer", orders, itemCols,
      Graft.fromParquet(spark, p("parquet"), include = Gen.itemInclude),
      _.flatten(join = FlattenJoin.Outer), t)
    run("parquet_tags", "tags", orders, tagCols,
      Graft.fromParquet(spark, p("parquet"), include = Gen.tagInclude), _.flatten(), t)
    run("avro", "inner", orders, itemCols,
      Graft.fromAvro(spark, p("avro"), include = Gen.itemInclude), _.flatten(), t)
    run("json", "json", truth("json_orders").toLong, itemCols,
      Graft.fromJson(spark, p("json"), include = Gen.itemInclude), _.flatten(), t)
    run("arrow", "inner", items, itemCols,
      Graft.fromArrow(spark, p("items.arrows")), _.flatten(include = Gen.flatInclude), t)
    run("pbd", "pbd", items, itemCols,
      Graft.fromPbd(spark, p("pbd"), include = Gen.flatInclude), _.flatten(), t)
    // the why-not count: parents an inner flatten drops (null or empty list)
    last += "flatten.dropped_parents" -> (outer - inner).toDouble
  }
}

/** Cold curation, documents in to shards out: quality filter, near-dup
  * removal, holdout decontamination, shard ids, a partitioned parquet
  * write. Spark's cache is cleared before every iteration, so every
  * cache slot the pipeline uses misses. */
final class CurateBatch(spark: SparkSession, dir: File, out: File) extends Workload {
  val name = "curate_batch"
  private val truth = Gen.readProps(new File(dir, "truth.properties"))
  val records: Long = truth("docs").toLong
  val shards = 8
  private var last = Map.empty[String, Double]
  override def iterationCounts: Map[String, Double] = last

  override def beforeIteration(): Unit = spark.catalog.clearCache()

  def iterate(i: Int, t: Tracer): Unit = {
    val (docs, eval) = t.span("sources.parquet", "sources") {
      t.plan((Graft.fromParquet(spark, new File(dir, "docs").getPath).df,
        Graft.fromParquet(spark, new File(dir, "eval").getPath).df))
    }
    var c = t.span("curation.tokenize", "curation") {
      val c0 = Curation(docs, "doc_id", "text")
      // instrumented() materializes each stage, which is what lets a
      // traced run time the stages apart
      if (t.enabled) c0.instrumented() else c0
    }
    val evalWords = Curation(eval, "doc_id", "text").docs
    c = t.span("curation.quality_filter", "curation")(c.qualityFilter())
    c = t.span("curation.near_dedup", "dedup")(c.nearDedup())
    c = t.span("curation.decontaminate", "curation")(c.decontaminate(evalWords))
    val sharded = t.span("packing.shard", "packing") {
      c.docs.select(col("doc_id"), col("wc"), col("__w").as("words"),
        Packing.shardId("doc_id", shards).as("shard"))
    }
    val d = t.span("sink.parquet", "sink") {
      observed(sharded, Seq("doc_id"))(_.write.mode("overwrite").partitionBy("shard").parquet(out.getPath))
    }
    if (t.enabled) {
      last = c.stageMetrics.map { case (s, n) => s"curation.$s.rows_out" -> n.toDouble }.toMap +
        ("sink.files" -> Workload.dataFiles(out).toDouble)
      c.release()
    }
    expect(truth, "survivors", d)
  }

  override def extraCounts(): Map[String, Double] = {
    // candidate pairs are every pair sharing a winnowed token; the
    // operator's own threshold then keeps the near duplicates
    val w = Curation(Graft.fromParquet(spark, new File(dir, "docs").getPath).df, "doc_id", "text")
      .qualityFilter().docs
    val cand = Dedup.winnowJaccardPairsOfWords(w, "doc_id", "__w", 3, 4, 0.0).count()
    val pairs = Dedup.winnowJaccardPairsOfWords(w, "doc_id", "__w", 3, 4, 0.3).count()
    Map("dedup.candidate_pairs" -> cand.toDouble, "dedup.pairs" -> pairs.toDouble)
  }
}

/** Daily-ingest dedup: each iteration probes one batch against a fixed
  * corpus, keeps the batch documents no earlier document nearly
  * duplicates, and appends them to parquet. The corpus signatures are
  * cached by graft after the first batch. */
final class DedupIncrement(spark: SparkSession, dir: File, out: File) extends Workload {
  val name = "dedup_increment"
  private val truth = Gen.readProps(new File(dir, "truth.properties"))
  private val batches = truth("batches").toInt
  val records: Long = truth("batch").toLong
  private val expected: Map[Int, Set[(Long, Long, Double)]] = {
    val src = Source.fromFile(new File(dir, "expected_pairs.txt"))
    try src.getLines().map(_.split(" ")).toSeq
      .groupBy(_(0).toInt).map { case (b, ls) => b -> ls.map(l => (l(1).toLong, l(2).toLong, l(3).toDouble)).toSet }
    finally src.close()
  }
  private lazy val corpus = Graft.fromParquet(spark, new File(dir, "corpus").getPath).df
  Gen.deleteTree(out)
  private var last = Map.empty[String, Double]
  override def iterationCounts: Map[String, Double] = last

  def iterate(i: Int, t: Tracer): Unit = {
    val b = i % batches
    val batch = t.span("sources.parquet", "sources") {
      t.plan(Graft.fromParquet(spark, Gen.batchDir(dir, b).getPath).df)
    }
    val pairs = t.span("dedup.probe", "dedup") {
      val ps = t.plan(Dedup.incrementalMinhashPairs(corpus, batch, "doc_id", "text"))
      t.execute(ps.collect()).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val want = expected.getOrElse(b, Set.empty)
    check(pairs == want, s"batch $b pairs: ${(pairs -- want).size} unexpected, ${(want -- pairs).size} missing")
    val before = if (t.enabled) Workload.dataFiles(out) else 0
    val d = t.span("sink.parquet", "sink") {
      import spark.implicits._
      val dropped = pairs.toSeq.map(_._2).distinct.toDF("doc_id")
      val survivors = batch.join(broadcast(dropped), Seq("doc_id"), "left_anti")
      observed(survivors, Seq("doc_id"))(_.write.mode("append").parquet(out.getPath))
    }
    expect(truth, s"batch.$b.survivors", d)
    if (t.enabled) last = Map("sink.files" -> (Workload.dataFiles(out) - before).toDouble)
  }

  override def extraCounts(): Map[String, Double] = {
    // candidates: every pair sharing a band key (no estimate threshold)
    val batch = Graft.fromParquet(spark, Gen.batchDir(dir, 0).getPath).df
    def pairs(minEstimate: Double) =
      Dedup.incrementalMinhashPairs(corpus, batch, "doc_id", "text", minEstimate = minEstimate).count()
    Map("dedup.candidate_pairs" -> pairs(0.0).toDouble, "dedup.pairs" -> pairs(0.5).toDouble)
  }
}
