package graft

import org.apache.spark.sql.functions._
import graft.operators.Bucketing

/** Bucketed co-located joins: same-key/same-count bucketed tables
  * sort-merge-join without a shuffle — verified at the plan level.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed join plans without shuffle exchanges") {
    Seq("li_bucketed", "ord_bucketed").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))

    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(ord, "ord_bucketed", "l_orderkey", 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "ord_bucketed",
        "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning"), s"unexpected shuffle in:\n$plan")
      assert(joined.count() == 6000) // every lineitem matches its order

      // the same join on raw (unbucketed) frames does shuffle,
      // proving the assertion above is meaningful
      val rawPlan = li.join(ord, "l_orderkey")
        .queryExecution.executedPlan.toString
      assert(rawPlan.contains("hashpartitioning"), rawPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stored corpus band index: ingest probe joins without shuffling the index") {
    // the production shape of incremental dedup: the corpus band
    // index lives as a table bucketed by band_key; a new batch's
    // band keys shuffle TO the index's layout, the index itself
    // never re-partitions — the exchange appears on the (small)
    // batch side only
    spark.sql("DROP TABLE IF EXISTS corpus_band_index")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    Bucketing.writeBucketed(
      graft.operators.Dedup.corpusBandIndex(corpus, "doc_id", "text"),
      "corpus_band_index", "band_key", 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.operators.Dedup
        .bandKeysNarrow(batch, "doc_id", "text")
        .join(spark.table("corpus_band_index"), Seq("band_key"))
      val plan = probe.queryExecution.executedPlan.toString
      // exactly one exchange: the batch side aligning to the index's
      // bucketing; zero exchanges downstream of the index scan
      assert(plan.contains("SortMergeJoin"), plan)
      assert("hashpartitioning".r.findAllIn(plan).size == 1, plan)
      assert(probe.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
