package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** GraftSession is the only session builder: it is idempotent, it
  * applies the engine conf map, and no other main source builds a
  * session of its own. */
class GraftSessionSpec extends SparkSpec {

  test("a second factory call returns the same configured session") {
    val again = GraftSession.local()
    assert(again eq spark)
    assert(spark.sql("SELECT graft_dot(array(cast(2.0 AS float)), " +
      "array(cast(3.0 AS float))) AS d").head().getDouble(0) == 6.0)
    GraftSession.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.sparkContext.master == s"local[${GraftSession.cores}]")
    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    assert(!warehouse.startsWith(Paths.get("").toAbsolutePath), warehouse)
  }

  test("SparkSession.builder( appears in src/main only in GraftSession.scala") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), main.toAbsolutePath)
    val builders = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder("))
      .map(main.relativize(_: Path).toString).toSeq
    assert(builders.isEmpty, builders.mkString(", "))
  }
}
