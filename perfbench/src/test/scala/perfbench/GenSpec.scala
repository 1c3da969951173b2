package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", 2).getOrCreate()
  private val tmp = Files.createTempDirectory("perfbench-gen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(tmp)
  }

  private def files(dir: File): Map[String, Seq[Byte]] = {
    def walk(f: File, rel: String): Seq[(String, Seq[Byte])] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(rel -> Files.readAllBytes(f.toPath).toSeq)
    walk(dir, "").toMap
  }

  private val nested = Gen.NestedSizes(orders = 300, jsonOrders = 100, files = 2)
  private val curate = Gen.CurateSizes(docs = 400, evalDocs = 20, files = 2)
  private val dedup = Gen.DedupSizes(corpus = 300, batch = 50, batches = 3, files = 2)

  private def generate(root: String, seed: Long): Seq[File] = {
    val r = new File(tmp, root)
    Seq(Gen.nested(spark, r, seed, nested), Gen.curate(spark, r, seed, curate),
      Gen.dedup(spark, r, seed, dedup))
  }

  test("the same seed gives byte-identical inputs and ground truth") {
    val a = generate("a", 5)
    val b = generate("b", 5)
    a.zip(b).foreach { case (x, y) =>
      val (fx, fy) = (files(x), files(y))
      assert(fx.keySet == fy.keySet && fx.size > 3, x.getName)
      fx.keys.foreach(k => assert(fx(k) == fy(k), s"${x.getName}$k differs"))
    }
  }

  test("another seed gives other inputs") {
    val a = generate("a", 5)
    val c = generate("c", 6)
    a.zip(c).foreach { case (x, y) =>
      assert(files(x).apply("/truth.properties") != files(y).apply("/truth.properties"), x.getName)
    }
  }

  test("a cached input is reused, not regenerated") {
    val d = generate("a", 5).head
    val stamp = new File(d, "truth.properties").lastModified()
    Thread.sleep(20)
    assert(generate("a", 5).head == d)
    assert(new File(d, "truth.properties").lastModified() == stamp)
  }

  test("ground truth is consistent with the planted properties") {
    val Seq(n, c, d) = generate("a", 5).map(f => Gen.readProps(new File(f, "truth.properties")))
    // an outer flatten keeps exactly the parents an inner flatten drops
    assert(n("outer.rows").toLong == n("inner.rows").toLong + n("list_len.null").toLong + n("list_len.0").toLong)
    assert(n("json.rows").toLong < n("inner.rows").toLong)
    val survivors = c("survivors.rows").toLong
    assert(survivors < c("docs").toLong - c("quality_fail").toLong)
    assert(c("clusters").toInt > 0 && c("contaminated").toInt > 0)
    assert(d("pairs_with_corpus").toInt > 0)
    assert((0 until 3).forall(i => d(s"batch.$i.survivors.rows").toInt < 50))
  }
}
