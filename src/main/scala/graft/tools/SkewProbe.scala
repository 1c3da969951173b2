package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dup-regime probe with GROUP SKEW for the per-group operators —
  * the stress case ScaleProbe's uniform replication cannot produce:
  * R-fold duplication where every copy beyond the first lands in ONE
  * group, so the largest group holds ~(R-1+1/G)/R of all rows (one
  * giant TopK heap for stratified sampling, one giant bucket-cell
  * set for per-group drift). The question each probe answers:
  *
  *  - `weightedSamplePerKey`: the per-key TopK is a bounded heap —
  *    k rows per group per task — so a giant group must cost scan
  *    time, never heap growth. Superlinear time vs the uniform-dup
  *    run flags a heap/partial-agg break.
  *  - `psiByGroup`: the exchange carries occupied (group, bucket)
  *    cells; a giant group occupies at most the bucket vocabulary,
  *    so skew must NOT grow the shuffle. Superlinear time flags a
  *    per-row (not per-cell) exchange.
  *
  * Usage: runMain graft.tools.SkewProbe [R] [srcDir]. Prints one
  * line per probe (3 trials); results land in SCALE.md round 9.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val r = if (args.nonEmpty) args(0).toInt else 10
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()

    val KEYSPAN = 100000000L
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(r).toDF("copy_n"))

    // documents: copies > 0 all collapse into lang 'en' -> one group
    // holds ~(R-1)/R of the corpus
    val docs = copies(spark.read.parquet(s"$src/documents.parquet"))
      .select(
        (col("doc_id") + col("copy_n") * KEYSPAN).as("doc_id"),
        when(col("copy_n") === 0, col("lang")).otherwise(lit("en")).as("lang"),
        col("n_chars"))
      .persist()
    // events: copies > 0 collapse into event_type 'view'
    val ev = copies(graft.queries.Tables.events(spark, src))
      .select(
        (col("event_id") + col("copy_n") * KEYSPAN).as("event_id"),
        when(col("copy_n") === 0, col("event_type"))
          .otherwise(lit("view")).as("event_type"),
        col("value"))
      .persist()
    val nd = docs.count(); val ne = ev.count()
    System.err.println(s"[skew] docs=$nd events=$ne r=$r")

    def timed(name: String, rows: Long, mk: () => DataFrame): Unit = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        mk().count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name r=$r skew-dup: trials=${ts.map(t => f"$t%.2f").mkString(",")} " +
        f"median=${ts.sorted.apply(1)}%.2f s input_rows=$rows")
    }

    timed("q_weighted_stratified", nd, () =>
      graft.operators.Sampling.weightedSamplePerKey(
        docs.select(graft.operators.Packing.hash48c(col("lang")).as("lang_h"),
          col("doc_id"), col("n_chars")),
        "lang_h", "doc_id", "n_chars", k = 20))
    timed("q_drift_by_group", ne, () =>
      graft.operators.Drift.psiByGroup(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "event_type", "value", bucketWidth = 25.0))
    spark.stop()
  }
}
