package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClusionInput, Flatten}
import graft.sources.pbd.PbdSource
import ClusionInput._

/** from_pbd against the expectations of pbd_tests.py:62-92, decoded
  * from the committed fixture `src/test/resources/pbd/example.pbd`:
  * ONE record whose repeated fields drive the flatten. The fixture is
  * a protobuf-java re-encoding of FIXTURES.md §5's record by
  * [[PbdFixtures]], not the reference's own byte stream; its field
  * numbers, package names and enum tables are reconstructed. Where the
  * reference's `example.pbd` exists, a guarded test checks that it
  * decodes to the same rows.
  */
class PbdSourceSpec extends SparkSpec {

  private def fixture(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/pbd/$name").toURI).toString

  private val example = fixture("example.pbd")
  private val perfExample = fixture("perf_example.pbd")
  private val referenceExample =
    java.nio.file.Paths.get("/root/reference/python/bamboo_tests/data/example.pbd")

  private def read(include: ClusionInput = Empty, exclude: ClusionInput = Empty) =
    PbdSource.read(spark, example, include, exclude)

  test("flatten(exclude=rm) matches test_example goldens") {
    val flat = Flatten.flatten(read(), exclude = "rm")
    val rows = flat.collect().sortBy(_.getAs[Double]("f"))
    assert(flat.columns.toSet ==
      Set("a", "b", "c", "d", "e", "f", "s", "sd", "de"))
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Number]("a").intValue == 13)
      assert(r.getAs[Number]("b").intValue == 23) // m.b resolved to leaf name
      assert(r.getAs[Number]("c").intValue == 33) // d.c
      assert(r.getAs[Double]("d") == -1.3) // d.d resolved d_? -> leaf unique
      assert(r.getAs[String]("e") == "B")
      assert(r.getAs[String]("s") == "test")
      assert(r.getAs[String]("sd") == "") // unset proto3 string -> default
      assert(r.getAs[String]("de") == "DE1") // cross-file dependency enum
    }
    assert(rows.map(_.getAs[Double]("f")).toSeq == Seq(2.3, 3.3))
  }

  test("repeated message flatten (test_repeated_message)") {
    val flat = Flatten.flatten(read(), include = "rm")
    assert(flat.columns.toList == List("b"))
    assert(flat.collect().map(_.getAs[Number](0).intValue).sorted.toSeq == Seq(11, 22))
  }

  test("decode-time inclusion (test_inclusion / test_nested_inclusion)") {
    val a = Flatten.flatten(read(include = Path("a")))
    assert(a.columns.toList == List("a"))
    assert(a.collect().map(_.getAs[Number](0).intValue).toSeq == Seq(13))

    val mb = Flatten.flatten(read(include = Path("m.b")))
    assert(mb.columns.toList == List("b"))
    assert(mb.collect().map(_.getAs[Number](0).intValue).toSeq == Seq(23))
  }

  test("decode-time exclusion (test_exclusion)") {
    // m's only field excluded -> the empty struct prunes away entirely
    val df = read(exclude = Path("m.b"))
    assert(!df.columns.contains("m"))
    val flat = Flatten.flatten(df, exclude = "rm")
    assert(flat.count() == 2)
    assert(flat.columns.toSet == Set("a", "c", "d", "e", "f", "s", "sd", "de"))
  }

  test("conflicting clusions throw (test_conflict)") {
    assertThrows[IllegalArgumentException](
      read(include = Path("m.b"), exclude = Path("m.b")))
  }

  test("sibling repeated fields conflict in flatten (f vs rm)") {
    assertThrows[IllegalArgumentException](Flatten.flatten(read()))
  }

  test("committed pbd fixtures equal the PbdFixtures generator output") {
    def committed(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(committed(example), PbdFixtures.example),
      "example.pbd drifted from PbdFixtures; regenerate it")
    assert(java.util.Arrays.equals(committed(perfExample), PbdFixtures.perfExample),
      "perf_example.pbd drifted from PbdFixtures; regenerate it")
    val perf = PbdSource.parseFile(committed(perfExample))
    assert(perf.records.map(_.length).toSeq == Seq(PbdFixtures.PerfRecordBytes))
  }

  test("reference example.pbd decodes to the committed fixture's rows") {
    assume(java.nio.file.Files.exists(referenceExample),
      s"$referenceExample is absent")
    // compared by column name and as strings, so the reconstructed
    // field order and integer widths need not match the reference's
    def rows(path: String, include: ClusionInput, exclude: ClusionInput) = {
      val flat = Flatten.flatten(PbdSource.read(spark, path),
        include = include, exclude = exclude)
      flat.select(flat.columns.sorted.map(c => col(c).cast("string")).toSeq: _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    Seq[(ClusionInput, ClusionInput)]((Empty, "rm"), ("rm", Empty)).foreach {
      case (in, ex) =>
        assert(rows(referenceExample.toString, in, ex) == rows(example, in, ex))
    }
  }

  test("PbdWriter round-trip: written container decodes to the source rows") {
    import graft.sources.pbd.{PbdWriter, PbdDescriptors}
    val fields = Seq(
      PbdWriter.Field("id", 1, PbdDescriptors.T.INT64),
      PbdWriter.Field("x", 2, PbdDescriptors.T.DOUBLE),
      PbdWriter.Field("s", 3, PbdDescriptors.T.STRING))
    val data = (0L until 1000L).map(i => (i, i * 0.5 - 3.25, s"row$i"))
    val p = java.nio.file.Files.createTempFile("graft_pbdw", ".pbd")
    PbdWriter.write(p.toString, "graft", "Rt", fields,
      data.iterator.map { case (id, x, s) => out =>
        out.writeVarintField(1, id)
        out.writeDoubleField(2, x)
        out.writeStringField(3, s)
      })
    val back = PbdSource.read(spark, p.toString)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(back == data)
  }

  test("pbd_source fixture query round-trips full lineitem at sf0.001") {
    val df = graft.queries.FlattenQueries.queries("pbd_source")(
      spark, "/root/testdata/sf0.001")
    assert(df.count() == 6000)
    assert(df.columns.toSeq ==
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))
  }

  test("perf floor: 100k records decode distributed well under the ref bound") {
    // replicate the committed perf_example.pbd's one record the way
    // pbd_tests.py:42-60 does, then decode; the reference asserts 1M
    // records < 5 s single-threaded
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(perfExample))
    val parsed = PbdSource.parseFile(bytes)
    assert(parsed.records.length == 1)
    val rec = parsed.records(0)
    val out = new java.io.ByteArrayOutputStream()
    val headerEnd = bytes.length - rec.length - 1 // 82-byte record: 1-byte varint
    out.write(bytes, 0, headerEnd)
    (1 to 100000).foreach { _ => out.write(rec.length); out.write(rec) }
    val p = java.nio.file.Files.createTempFile("graft_pbd", ".pbd")
    java.nio.file.Files.write(p, out.toByteArray)
    val t0 = System.nanoTime()
    val n = PbdSource.read(spark, p.toString).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 100000)
    assert(sec < 20.0, s"decode too slow: $sec s")
    info(f"100k records in $sec%.2f s")
  }

  test("boundary scan is streaming: a virtual file bigger than the heap") {
    // A synthetic record region (2-byte varint prefix + 1000 payload
    // bytes per record) totalling ~2x the JVM max heap, served by a
    // virtual stream. The r6 scan (Files.readAllBytes -> ProtoWire)
    // could not even allocate the array; the streaming walk must
    // finish in O(chunks) memory with exact record alignment.
    val payload = 1000
    val recBytes = 2L + payload
    val maxHeap = Runtime.getRuntime.maxMemory()
    val n = maxHeap * 2 / recBytes + 1
    val total = n * recBytes
    assert(total > maxHeap, "virtual file must exceed the heap")
    val in = new java.io.InputStream {
      var off = 0L
      override def read(): Int =
        if (off >= total) -1
        else {
          val r = (off % recBytes) match {
            case 0 => 0xe8 // varint(1000) low byte
            case 1 => 0x07 // varint(1000) high byte
            case _ => 0x41
          }
          off += 1; r
        }
      override def skip(k: Long): Long = {
        val s = math.min(k, total - off); off += s; s
      }
    }
    val s = new PbdSource.VarintStream(in)
    val (chunks, nRec) = PbdSource.scanChunks(s, 0L, 64L << 20)
    assert(nRec == n)
    assert(chunks.head._1 == 0L && chunks.last._2 == total)
    chunks.sliding(2).foreach {
      case Seq((_, e), (s2, _)) => assert(e == s2, "chunks must be contiguous")
      case _ =>
    }
    chunks.foreach { case (a, b) =>
      assert(a % recBytes == 0 && b % recBytes == 0, "chunks must be record-aligned")
    }
    info(f"scanned ${total / (1 << 20)}%d MiB virtual into ${chunks.size}%d chunks")
  }

  test("a directory of .pbd files reads as one union; mismatched schema refuses") {
    import graft.sources.pbd.{PbdWriter, PbdDescriptors}
    val fields = Seq(
      PbdWriter.Field("id", 1, PbdDescriptors.T.INT64),
      PbdWriter.Field("s", 2, PbdDescriptors.T.STRING))
    val dir = java.nio.file.Files.createTempDirectory("graft_pbd_dir")
    def writeRange(name: String, ids: Range): Unit =
      PbdWriter.write(dir.resolve(name).toString, "graft", "Rt", fields,
        ids.iterator.map { i => out =>
          out.writeVarintField(1, i.toLong)
          out.writeStringField(2, s"row$i")
        })
    writeRange("a.pbd", 0 until 10)
    writeRange("b.pbd", 10 until 30)
    val got = PbdSource.read(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == (0 until 30).map(i => (i.toLong, s"row$i")))
    // a file with a different schema poisons the union -> refuse, like
    // the reference's mixed-source check (columns.cpp:22-32)
    PbdWriter.write(dir.resolve("c.pbd").toString, "graft", "Rt",
      Seq(PbdWriter.Field("z", 1, PbdDescriptors.T.DOUBLE)),
      Iterator.single(out => out.writeDoubleField(1, 1.0)))
    assertThrows[IllegalArgumentException](PbdSource.read(spark, dir.toString))
  }

  test("strictEnums: identical tables union, a renumbered table refuses (columns.cpp:22-32)") {
    import graft.sources.pbd.{PbdWriter, PbdDescriptors}
    val dir = java.nio.file.Files.createTempDirectory("graft_pbd_enum")
    val fields = Seq(
      PbdWriter.Field("id", 1, PbdDescriptors.T.INT64),
      PbdWriter.Field("color", 2, PbdDescriptors.T.ENUM, ".graft.Color"))
    def writeOne(name: String, table: Seq[(String, Int)], ids: Range): Unit =
      PbdWriter.write(dir.resolve(name).toString, "graft", "Rt", fields,
        ids.iterator.map { i => out =>
          out.writeVarintField(1, i.toLong)
          out.writeVarintField(2, i % 2)
        },
        enums = Seq(PbdWriter.EnumDef("Color", table)))
    val tableA = Seq("RED" -> 0, "BLUE" -> 1)
    writeOne("a.pbd", tableA, 0 until 4)
    writeOne("b.pbd", tableA, 4 until 8)
    // identical tables: strict mode reads fine, enums decode as names
    val ok = PbdSource.read(spark, dir.toString, strictEnums = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(ok.length == 8 && ok(0)._2 == "RED" && ok(1)._2 == "BLUE")
    // a renumbered table in one file: default mode unions silently
    // (documented string divergence), strict mode refuses
    writeOne("c.pbd", Seq("BLUE" -> 0, "RED" -> 1), 8 until 10)
    assert(PbdSource.read(spark, dir.toString).count() == 10)
    val e = intercept[IllegalArgumentException](
      PbdSource.read(spark, dir.toString, strictEnums = true))
    assert(e.getMessage.contains("graft.Color"))
  }
}
