package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** kNN-graph construction invariants on the sf0.001 embeddings:
  * reported similarities are the exact cosines (LSH affects WHICH
  * candidates meet, never their scores), ranks are dense and ordered
  * by (round6 sim desc, neighbor asc), at most k rows per id, and
  * recall vs the brute-force graph clears a floor.
  */
class KnnGraphSpec extends SparkSpec {

  private val SF = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$SF/embeddings.parquet")

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("graph scores are exact cosines; ranks dense, ordered, <= k") {
    import spark.implicits._
    val k = 3
    val got = Similarity.knnGraphLSH(embeddings, "vec_id", "embedding",
        dim = 64, k = k)
      .as[(Long, Long, Double, Long)].collect()
    val vecs = embeddings.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = got.groupBy(_._1)
    byId.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.length <= k)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      // sims match exact cosine (rounded 4 like TopK's output)
      // TopK rounds the RAW score to 4dp (round6 is only the order key)
      sorted.foreach { case (_, nb, sim, _) =>
        val want = BigDecimal(cos(vecs(id), vecs(nb)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(sim == want, s"id=$id nb=$nb")
      }
      // rank order: (round6 desc, neighbor asc)
      val keys = sorted.map { case (_, nb, _, _) =>
        (-round6(cos(vecs(id), vecs(nb))), nb) }
      assert(keys.sameElements(keys.sortBy(identity)))
    }
    // recall vs brute-force top-3 (neighbor sets, all ids)
    val hits = byId.map { case (id, rows) =>
      // one (key, id) per candidate, then sort: sortBy would recompute
      // the cosine and its rounding on every comparison
      val q = vecs(id)
      val brute = vecs.iterator
        .collect { case (nb, v) if nb != id => (-round6(cos(q, v)), nb) }
        .toArray.sorted.take(3).map(_._2).toSet
      rows.map(_._2).count(brute.contains).toDouble / 3.0
    }
    val recall = hits.sum / vecs.size // ids with no candidates score 0
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("ingest variant: batch ids only, neighbors only from the corpus") {
    import spark.implicits._
    val emb = embeddings
    val got = Similarity.knnAgainstCorpusLSH(
        emb.filter(col("vec_id") % 10 === 7),
        emb.filter(col("vec_id") % 10 =!= 7),
        "vec_id", "embedding", dim = 64, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, nb, _, rank) =>
      assert(id % 10 == 7, s"non-batch id $id in output")
      assert(nb % 10 != 7, s"batch id $nb reported as corpus neighbor")
      assert(rank >= 1 && rank <= 3)
    }
    // per-id ranks are dense from 1
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }
}
