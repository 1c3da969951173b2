package perfbench

import java.io.{File, FileOutputStream, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import java.util.{Properties, SplittableRandom}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, XxHash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Dedup
import graft.sources.ArrowSource
import graft.sources.avro.AvroSchemas
import graft.sources.pbd.{PbdDescriptors, PbdWriter, ProtoOut}

/** Order-independent content hash of a frame: the sum over rows of
  * `pmod(xxhash64(columns in name order), P)`. The benchmark evaluates
  * it on the program's output inside the timed job (an observed metric)
  * and here, on the generator's own rows, for the ground truth. */
object RowHash {
  val P = 1000000007L

  final class Hasher(types: Seq[DataType]) {
    private val expr =
      XxHash64(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }, 42L)
    def apply(values: Seq[Any]): Long = {
      val row = new GenericInternalRow(values.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      }.toArray)
      java.lang.Math.floorMod(expr.eval(row).asInstanceOf[Long], P)
    }
  }
}

/** Running count plus hash sum: the ground truth one check compares. */
final case class Digest(rows: Long, hash: Long) {
  def +(h: Long): Digest = Digest(rows + 1, hash + h)
}
object Digest { val empty: Digest = Digest(0, 0) }

/** Seeded input generators. Each workload's inputs and ground truth are
  * written once per (workload, seed, size, [[Gen.Version]]) under the data
  * directory and reused by later runs; every file name and byte depends
  * only on those, so the same seed gives byte-identical inputs. Ground
  * truth is computed from the generator's own in-memory records, never
  * from what graft reads back. */
object Gen {
  /** Bump whenever generated bytes or ground truth change. */
  val Version = 2

  def shuffle[T](rng: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }

  def dirFor(root: File, workload: String, seed: Long, size: String): File =
    new File(root, s"$workload-v$Version-$size-s$seed")

  /** Generate into a scratch directory and rename it into place, so a
    * killed run never leaves a half-written input behind. */
  def cached(root: File, workload: String, seed: Long, size: String)
            (write: File => Unit): File = {
    val dir = dirFor(root, workload, seed, size)
    if (!new File(dir, "truth.properties").isFile) {
      val tmp = new File(root, s".tmp-${dir.getName}-${ProcessHandle.current().pid()}")
      deleteTree(tmp)
      tmp.mkdirs()
      write(tmp)
      deleteTree(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeProps(f: File, kv: Seq[(String, Any)]): Unit = {
    val p = new Properties()
    kv.foreach { case (k, v) => p.setProperty(k, v.toString) }
    val out = new FileOutputStream(f)
    try p.store(out, null) finally out.close()
    // Properties.store writes a timestamp comment; drop it so truth files
    // are byte-identical across generations too
    val lines = Files.readAllLines(f.toPath).asScala.filterNot(_.startsWith("#")).sorted
    Files.write(f.toPath, lines.asJava)
  }

  def readProps(f: File): Map[String, String] = {
    val p = new Properties()
    val in = new java.io.FileInputStream(f)
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  /** Write `df` with Spark's writer as `nFiles` files, then give the part
    * files stable names and drop the writer's markers and checksums. */
  def writeSpark(df: DataFrame, format: String, dir: File, nFiles: Int): Unit = {
    val tmp = new File(dir.getParentFile, dir.getName + ".spark")
    df.repartition(nFiles).write.mode("overwrite").format(format).save(tmp.getPath)
    dir.mkdirs()
    val parts = tmp.listFiles().filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      val ext = f.getName.substring(f.getName.indexOf('.'))
      Files.move(f.toPath, new File(dir, f"part-$i%05d$ext").toPath)
    }
    deleteTree(tmp)
  }

  // ---------------------------------------------------------------- text

  /** Word `i` of the shared vocabulary: four letters encode `i` (so words
    * are distinct), plus 0-2 filler letters; mean length 5. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    var k = 0
    while (k < 4) { sb.append(('a' + v % 26).toChar); v /= 26; k += 1 }
    var extra = i % 3
    while (extra > 0) { sb.append(('a' + (i * 7 + extra) % 26).toChar); extra -= 1 }
    sb.toString
  }

  def randomWords(rng: SplittableRandom, n: Int, vocab: Int): Array[String] =
    Array.fill(n)(word(rng.nextInt(vocab)))

  /** Near copy: each word replaced with probability `rate`. */
  def mutate(rng: SplittableRandom, ws: Array[String], rate: Double, vocab: Int): Array[String] =
    ws.map(w => if (rng.nextDouble() < rate) word(rng.nextInt(vocab)) else w)

  def writeDocs(spark: SparkSession, docs: Seq[(Long, String)], dir: File, nFiles: Int): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = docs.map { case (id, t) => Row(id, t) }
    writeSpark(spark.createDataFrame(rows.asJava, schema), "parquet", dir, nFiles)
  }

  // ------------------------------------------------------- nested_ingest

  final case class Addr(city: String, zip: Long)
  final case class Tag(tag: String, w: java.lang.Long)
  final case class Item(id: Long, sku: String, qty: java.lang.Long, price: java.lang.Double,
                        tags: Seq[Tag])
  final case class Order(id: Long, customer: String, ts: Long, total: java.lang.Double,
                         note: String, ship: Addr, bill: Addr, items: Seq[Item])

  val addrType: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false), StructField("zip", LongType, nullable = false)))
  val tagType: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false), StructField("w", LongType)))
  val itemType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("sku", StringType, nullable = false),
    StructField("qty", LongType), StructField("price", DoubleType),
    StructField("tags", ArrayType(tagType, containsNull = false))))
  val orderType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("customer", StringType, nullable = false),
    StructField("ts", LongType, nullable = false), StructField("total", DoubleType),
    StructField("note", StringType),
    StructField("ship", addrType, nullable = false), StructField("bill", addrType, nullable = false),
    StructField("items", ArrayType(itemType, containsNull = false))))

  /** Leaves kept by the item-level include; the rest (ts, note, tags.*)
    * are pruned at decode. Sibling records ship/bill clash on city/zip,
    * and the order and item ids clash on id. */
  val itemInclude: Seq[String] =
    Seq("id", "customer", "total", "ship", "bill", "items.id", "items.sku", "items.qty", "items.price")
  val tagInclude: Seq[String] = itemInclude :+ "items.tags"
  /** Flat item projection carried by Arrow and PBD: the item-level
    * flatten's columns plus a `note` column the include prunes. */
  val flatInclude: Seq[String] =
    Seq("id", "customer", "total", "ship_city", "ship_zip", "bill_city", "bill_zip",
      "items_id", "sku", "qty", "price")
  val itemColumns: Seq[(String, DataType)] = Seq(
    "id" -> LongType, "customer" -> StringType, "total" -> DoubleType,
    "ship_city" -> StringType, "ship_zip" -> LongType, "bill_city" -> StringType,
    "bill_zip" -> LongType, "items_id" -> LongType, "sku" -> StringType,
    "qty" -> LongType, "price" -> DoubleType)
  val tagColumns: Seq[(String, DataType)] = itemColumns ++ Seq("tag" -> StringType, "w" -> LongType)

  def sortedCols(cs: Seq[(String, DataType)]): Seq[(String, DataType)] = cs.sortBy(_._1)

  final case class NestedSizes(orders: Int, jsonOrders: Int, files: Int) {
    def tag: String = s"o$orders-j$jsonOrders-f$files"
  }

  /** List length: 2% null, 5% empty, 90% short (1 + geometric, mean 3.3),
    * 3% tail of 20-300. */
  def listLength(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    if (u < 0.02) -1
    else if (u < 0.07) 0
    else if (u < 0.97) {
      var n = 1
      while (rng.nextDouble() < 0.7 && n < 19) n += 1
      n
    } else 20 + (280 * math.pow(rng.nextDouble(), 2)).toInt
  }

  /** Orders with list lengths drawn once from a fixed stream and
    * shuffled by the seed: every seed has the same length histogram and
    * item count, and seeds differ in order and content. */
  def orders(seed: Long, n: Int): IndexedSeq[Order] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    def maybeNull[T](v: => T): T = if (rng.nextDouble() < 0.1) null.asInstanceOf[T] else v
    val cities = (0 until 50).map(i => "city_" + word(i * 37))
    val lengths = { val fixed = new SplittableRandom(0); shuffle(rng, (0 until n).map(_ => listLength(fixed))) }
    var itemId = 0L
    (0 until n).map { o =>
      val len = lengths(o)
      val items = if (len < 0) null else (0 until len).map { _ =>
        itemId += 1
        val tl = { val u = rng.nextDouble(); if (u < 0.02) -1 else if (u < 0.07) 0 else 1 + rng.nextInt(4) }
        val tags = if (tl < 0) null
          else (0 until tl).map(_ => Tag(word(rng.nextInt(500)),
            maybeNull(java.lang.Long.valueOf(rng.nextInt(100).toLong))))
        Item(1000000000L + itemId, "sku-" + word(rng.nextInt(5000)),
          maybeNull(java.lang.Long.valueOf(1L + rng.nextInt(20))),
          maybeNull(java.lang.Double.valueOf(rng.nextInt(100000) / 100.0)), tags)
      }
      Order(o + 1L, "cust-" + word(rng.nextInt(20000)), 1700000000000L + rng.nextInt(1 << 30),
        maybeNull(java.lang.Double.valueOf(rng.nextInt(1000000) / 100.0)),
        maybeNull("note " + word(rng.nextInt(20000))),
        Addr(cities(rng.nextInt(cities.size)), 10000L + rng.nextInt(90000)),
        Addr(cities(rng.nextInt(cities.size)), 10000L + rng.nextInt(90000)), items)
    }
  }

  def orderRow(o: Order): Row = Row(o.id, o.customer, o.ts, o.total, o.note,
    Row(o.ship.city, o.ship.zip), Row(o.bill.city, o.bill.zip),
    if (o.items == null) null else o.items.map(i => Row(i.id, i.sku, i.qty, i.price,
      if (i.tags == null) null else i.tags.map(t => Row(t.tag, t.w)))))

  /** Item-level rows in [[itemColumns]] order: inner (lists with items)
    * or outer (one all-null item row for a null or empty list). */
  def itemRows(o: Order, outer: Boolean): Seq[Seq[Any]] = {
    val head = Seq(o.id, o.customer, o.total, o.ship.city, o.ship.zip, o.bill.city, o.bill.zip)
    if (o.items == null || o.items.isEmpty) {
      if (outer) Seq(head ++ Seq(null, null, null, null)) else Nil
    } else o.items.map(i => head ++ Seq(i.id, i.sku, i.qty, i.price))
  }

  def tagRows(o: Order): Seq[Seq[Any]] =
    if (o.items == null) Nil
    else o.items.flatMap { i =>
      val base = itemRows(o.copy(items = Seq(i)), outer = false).head
      if (i.tags == null) Nil else i.tags.map(t => base ++ Seq(t.tag, t.w))
    }

  def digest(rows: Iterator[Seq[Any]], cols: Seq[(String, DataType)]): Digest = {
    val order = cols.zipWithIndex.sortBy(_._1._1).map(_._2)
    val h = new RowHash.Hasher(order.map(cols(_)._2))
    rows.foldLeft(Digest.empty)((d, r) => d + h(order.map(r)))
  }

  /** proto3 decodes an absent scalar as its default, so the PBD copy of a
    * null leaf reads back as 0, 0.0 or "". */
  def protoDefaults(r: Seq[Any], cols: Seq[(String, DataType)]): Seq[Any] =
    r.zip(cols).map {
      case (null, (_, LongType)) => 0L
      case (null, (_, DoubleType)) => 0.0
      case (null, (_, StringType)) => ""
      case (v, _) => v
    }

  def writeAvro(dir: File, schema: StructType, rows: Seq[Row], nFiles: Int, seed: Long): Unit = {
    dir.mkdirs()
    val avro = AvroSchemas.fromSpark(schema)
    def nonNull(s: Schema): Schema =
      if (s.getType == Schema.Type.UNION) s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else s
    def conv(v: Any, dt: DataType, s: Schema): Any = (v, dt) match {
      case (null, _) => null
      case (r: Row, st: StructType) =>
        val rec = new GenericData.Record(nonNull(s))
        st.fields.zipWithIndex.foreach { case (f, i) =>
          rec.put(f.name, conv(r.get(i), f.dataType, nonNull(s).getFields.get(i).schema()))
        }
        rec
      case (xs: Seq[_], ArrayType(et, _)) =>
        xs.map(conv(_, et, nonNull(s).getElementType)).asJava
      case (x, _) => x
    }
    val per = (rows.size + nFiles - 1) / nFiles
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
      // a seed-derived sync marker keeps the container byte-identical
      val sync = new Array[Byte](16)
      new SplittableRandom(seed * 31 + i).nextBytes(sync)
      w.create(avro, new FileOutputStream(new File(dir, f"part-$i%05d.avro")), sync)
      try chunk.foreach(r => w.append(conv(r, schema, avro).asInstanceOf[GenericRecord]))
      finally w.close()
    }
  }

  def writePbd(dir: File, rows: Seq[Seq[Any]], cols: Seq[(String, DataType)], nFiles: Int): Unit = {
    dir.mkdirs()
    import PbdDescriptors.T
    val fields = cols.zipWithIndex.map { case ((n, t), i) =>
      PbdWriter.Field(n, i + 1, t match {
        case LongType => T.INT64
        case DoubleType => T.DOUBLE
        case StringType => T.STRING
      })
    }
    val per = (rows.size + nFiles - 1) / nFiles
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      PbdWriter.write(new File(dir, f"part-$i%05d.pbd").getPath, "bench", "Item", fields,
        chunk.iterator.map { r => (out: ProtoOut) =>
          r.zip(cols).zipWithIndex.foreach {
            case ((null, _), _) =>
            case ((v: Long, _), j) => out.writeVarintField(j + 1, v)
            case ((v: Double, _), j) => out.writeDoubleField(j + 1, v)
            case ((v: String, _), j) => out.writeStringField(j + 1, v)
            case ((v, _), _) => throw new IllegalStateException(s"unexpected leaf $v")
          }
        })
    }
  }

  /** Inputs and ground truth of `nested_ingest`. */
  def nested(spark: SparkSession, root: File, seed: Long, sz: NestedSizes): File =
    cached(root, "nested_ingest", seed, sz.tag) { dir =>
      val os = orders(seed, sz.orders)
      val rows = os.map(orderRow)
      writeSpark(spark.createDataFrame(rows.asJava, orderType), "parquet", new File(dir, "parquet"), sz.files)
      writeAvro(new File(dir, "avro"), orderType, rows, sz.files, seed)
      writeSpark(spark.createDataFrame(rows.take(sz.jsonOrders).asJava, orderType), "json",
        new File(dir, "json"), sz.files)
      // the flat item projection, with a trailing `note` the include prunes
      val flatCols = itemColumns :+ ("note" -> StringType)
      val flat = os.flatMap(o => itemRows(o, outer = false).map(_ :+ o.note))
      val flatSchema = StructType(flatCols.map { case (n, t) => StructField(n, t) })
      ArrowSource.toArrowStream(
        spark.createDataFrame(flat.map(Row.fromSeq).asJava, flatSchema).coalesce(1),
        new File(dir, "items.arrows").getPath)
      writePbd(new File(dir, "pbd"), flat.map(r => protoDefaults(r, flatCols)), flatCols, sz.files)

      val inner = digest(os.iterator.flatMap(itemRows(_, outer = false)), itemColumns)
      val outer = digest(os.iterator.flatMap(itemRows(_, outer = true)), itemColumns)
      val tags = digest(os.iterator.flatMap(tagRows), tagColumns)
      val json = digest(os.iterator.take(sz.jsonOrders).flatMap(itemRows(_, outer = false)), itemColumns)
      val pbd = digest(os.iterator.flatMap(itemRows(_, outer = false)).map(protoDefaults(_, itemColumns)),
        itemColumns)
      val lens = os.map(o => if (o.items == null) -1 else o.items.size)
      val hist = Seq("null" -> lens.count(_ < 0), "0" -> lens.count(_ == 0),
        "1-4" -> lens.count(l => l >= 1 && l <= 4), "5-19" -> lens.count(l => l >= 5 && l <= 19),
        "20-99" -> lens.count(l => l >= 20 && l <= 99), "100-300" -> lens.count(_ >= 100))
      val leaves = os.iterator.flatMap(o => Iterator(o.total, o.note) ++
        Option(o.items).iterator.flatten.flatMap(i => Iterator(i.qty, i.price)))
      val (nullLeaves, allLeaves) = leaves.foldLeft((0L, 0L)) { case ((n, a), v) =>
        (if (v == null) n + 1 else n, a + 1) }
      writeProps(new File(dir, "truth.properties"), Seq(
        "orders" -> sz.orders, "json_orders" -> sz.jsonOrders,
        "items" -> inner.rows, "json_items" -> json.rows,
        "inner.rows" -> inner.rows, "inner.hash" -> inner.hash,
        "outer.rows" -> outer.rows, "outer.hash" -> outer.hash,
        "tags.rows" -> tags.rows, "tags.hash" -> tags.hash,
        "json.rows" -> json.rows, "json.hash" -> json.hash,
        "pbd.rows" -> pbd.rows, "pbd.hash" -> pbd.hash,
        "max_list" -> lens.max, "null_leaf_share" -> f"${nullLeaves.toDouble / allLeaves}%.4f") ++
        hist.map { case (k, v) => s"list_len.$k" -> v })
    }

  // -------------------------------------------------------- curate_batch

  final case class CurateSizes(docs: Int, evalDocs: Int, files: Int) {
    def tag: String = s"d$docs-e$evalDocs-f$files"
  }
  val Vocab = 20000

  /** `Curation.qualityFilter()` at its defaults, restated over the
    * generator's own text (single-space separated lowercase words). */
  def passesQuality(text: String): Boolean = {
    val ws = text.split(" ")
    val wc = ws.length.toLong
    val cpw = math.floor(text.length.toDouble / wc * 10000).toLong
    val div = math.floor(ws.distinct.length.toDouble / wc * 10000).toLong
    wc >= 30 && wc <= 300 && cpw <= 80000 && div >= 3000
  }

  def trigrams(ws: Array[String]): Iterator[String] =
    ws.sliding(3).filter(_.length == 3).map(_.mkString(" "))

  /** What a document set of `docs` holds, the same for every seed:
    * near-duplicate clusters of 2-50 documents (skewed to small) covering
    * ~20% of documents; ~15% quality failures of four kinds; ~1.2%
    * documents carrying a holdout 3-gram run; the rest good singletons. */
  final case class Composition(clusters: Seq[Int], singletons: Seq[(String, Int)])

  def composition(docs: Int): Composition = {
    val cycle = Seq(2, 3, 2, 4, 2, 3, 5, 2, 8, 3, 2, 13, 4, 2, 21, 3, 34, 2, 50)
    val target = docs / 5
    val sizes = Iterator.continually(cycle).flatten.scanLeft((0, 0)) { case ((sum, _), c) => (sum + c, c) }
      .drop(1).takeWhile(_._1 <= target).map(_._2).toSeq
    val fail = math.round(docs * 0.0375).toInt
    val contaminated = math.max(1, math.round(docs * 0.012).toInt)
    val good = docs - sizes.sum - 4 * fail - contaminated
    Composition(sizes, Seq("short" -> fail, "long" -> fail, "repetitive" -> fail, "long_words" -> fail,
      "contaminated" -> contaminated, "good" -> good))
  }

  /** Inputs and ground truth of `curate_batch`: ~20% of documents in
    * near-duplicate clusters, ~15% quality failures, ~1% carrying a
    * holdout 3-gram run. */
  def curate(spark: SparkSession, root: File, seed: Long, sz: CurateSizes): File =
    cached(root, "curate_batch", seed, sz.tag) { dir =>
      val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
      val evalDocs = (0 until sz.evalDocs).map(i =>
        (2000000000L + i, randomWords(rng, 30 + rng.nextInt(31), Vocab)))
      val good = () => randomWords(rng, 30 + rng.nextInt(271), Vocab)
      // a fixed composition (cluster sizes, counts of each singleton kind)
      // laid out in a seeded order over shuffled ids
      val units = shuffle(rng, (composition(sz.docs).clusters.map(Left(_)) ++
        composition(sz.docs).singletons.flatMap { case (k, n) => Seq.fill(n)(Right(k)) }).toIndexedSeq)
      val ids = shuffle(rng, (1L to sz.docs.toLong).toIndexedSeq)
      val docs = new Array[(Long, Array[String])](sz.docs)
      val clusterOf = scala.collection.mutable.LongMap.empty[Int]
      var k = 0
      units.zipWithIndex.foreach {
        case (Left(n), c) =>
          val base = good()
          (0 until n).foreach { j =>
            docs(k) = (ids(k), if (j == 0) base else mutate(rng, base, 0.03, Vocab))
            clusterOf(ids(k)) = c
            k += 1
          }
        case (Right(kind), _) =>
          val ws = kind match {
            case "short" => randomWords(rng, 10 + rng.nextInt(20), Vocab)
            case "long" => randomWords(rng, 301 + rng.nextInt(60), Vocab)
            case "repetitive" =>
              val few = randomWords(rng, 5, Vocab)
              Array.fill(40 + rng.nextInt(60))(few(rng.nextInt(5)))
            case "long_words" => randomWords(rng, 30 + rng.nextInt(100), Vocab).map(_ + "qqqqqqq")
            case "contaminated" => // carries a 3-6 word run of a holdout document
              val ws = good()
              val ev = evalDocs(rng.nextInt(evalDocs.size))._2
              val len = 3 + rng.nextInt(4)
              System.arraycopy(ev, rng.nextInt(ev.length - len + 1), ws, rng.nextInt(ws.length - len + 1), len)
              ws
            case _ => good()
          }
          docs(k) = (ids(k), ws)
          k += 1
      }
      val clusterSizes = composition(sz.docs).clusters
      val clusters = clusterSizes.size
      val evalGrams = evalDocs.iterator.flatMap(e => trigrams(e._2)).toSet
      val texts = docs.map { case (id, ws) => (id, ws.mkString(" ")) }
      val quality = texts.map { case (id, t) => id -> passesQuality(t) }.toMap
      val contaminated = docs.collect { case (id, ws) if trigrams(ws).exists(evalGrams) => id }.toSet
      val clusterMin = docs.iterator.filter(d => clusterOf.contains(d._1))
        .toSeq.groupBy(d => clusterOf(d._1)).map(_._2.map(_._1).min).toSet
      val survivors = docs.iterator.map(_._1).filter(id => quality(id) && !contaminated(id) &&
        (!clusterOf.contains(id) || clusterMin(id))).toSeq.sorted
      require(docs.forall(d => !clusterOf.contains(d._1) || (quality(d._1) && !contaminated(d._1))),
        "a planted cluster member fails quality or is contaminated")
      val h = new RowHash.Hasher(Seq(LongType))
      val surv = survivors.foldLeft(Digest.empty)((d, id) => d + h(Seq(id)))
      writeDocs(spark, texts.toSeq.sortBy(_._1), new File(dir, "docs"), sz.files)
      writeDocs(spark, evalDocs.map { case (id, ws) => (id, ws.mkString(" ")) }, new File(dir, "eval"), 1)
      val inClusters = clusterSizes.sum
      writeProps(new File(dir, "truth.properties"), Seq(
        "docs" -> sz.docs, "eval_docs" -> sz.evalDocs,
        "clusters" -> clusters, "cluster_docs" -> inClusters,
        "cluster_size.2-4" -> clusterSizes.count(_ <= 4), "cluster_size.5-19" -> clusterSizes.count(s => s >= 5 && s < 20),
        "cluster_size.20-50" -> clusterSizes.count(_ >= 20),
        "quality_fail" -> quality.count(!_._2), "contaminated" -> contaminated.size,
        "survivors.rows" -> surv.rows, "survivors.hash" -> surv.hash))
    }

  // ----------------------------------------------------- dedup_increment

  final case class DedupSizes(corpus: Int, batch: Int, batches: Int, files: Int) {
    def tag: String = s"c$corpus-b$batch-n$batches-f$files"
  }

  def batchDir(dir: File, i: Int): File = new File(dir, f"batch-$i%03d")

  /** Inputs and ground truth of `dedup_increment`: a corpus and a stream
    * of batches, ~30% of each batch near copies of corpus documents and
    * ~5% near copies within the batch. The expected pairs are
    * `Dedup.minhashPairs` over corpus and every batch, computed once: a
    * pair's membership depends only on its two documents, so batch i's
    * expected set is the pairs touching batch i whose other side is in
    * the corpus or batch i. */
  def dedup(spark: SparkSession, root: File, seed: Long, sz: DedupSizes): File =
    cached(root, "dedup_increment", seed, sz.tag) { dir =>
      val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
      val doc = () => randomWords(rng, 30 + rng.nextInt(51), Vocab)
      val corpus = (1 to sz.corpus).map(i => (i.toLong, doc()))
      val batches = (0 until sz.batches).map { b =>
        val base = sz.corpus.toLong + 1 + b.toLong * sz.batch
        val out = new Array[(Long, Array[String])](sz.batch)
        (0 until sz.batch).foreach { j =>
          val u = rng.nextDouble()
          val ws =
            if (u < 0.30) mutate(rng, corpus(rng.nextInt(sz.corpus))._2, 0.03, Vocab)
            else if (u < 0.35 && j > 0) mutate(rng, out(rng.nextInt(j))._2, 0.03, Vocab)
            else doc()
          out(j) = (base + j, ws)
        }
        out.toSeq
      }
      def texts(ds: Seq[(Long, Array[String])]) = ds.map { case (id, ws) => (id, ws.mkString(" ")) }
      writeDocs(spark, texts(corpus), new File(dir, "corpus"), sz.files)
      batches.zipWithIndex.foreach { case (b, i) => writeDocs(spark, texts(b), batchDir(dir, i), 1) }
      val all = spark.read.parquet((new File(dir, "corpus") +: batches.indices.map(batchDir(dir, _)))
        .map(_.getPath): _*)
      val pairs = Dedup.minhashPairs(all, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val batchOf = (id: Long) => if (id <= sz.corpus) -1 else ((id - sz.corpus - 1) / sz.batch).toInt
      val byBatch = pairs.groupBy { case (a, b, _) => math.max(batchOf(a), batchOf(b)) }
      val pw = new PrintWriter(new File(dir, "expected_pairs.txt"))
      val h = new RowHash.Hasher(Seq(LongType))
      val kv = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
      var nearCorpus = 0
      try batches.indices.foreach { i =>
        val ps = byBatch.getOrElse(i, Array.empty).filter { case (a, b, _) =>
          Set(-1, i)(batchOf(a)) && Set(-1, i)(batchOf(b)) }.sorted
        ps.foreach { case (a, b, e) => pw.println(s"$i $a $b $e") }
        val dropped = ps.map(_._2).toSet
        nearCorpus += ps.count(p => batchOf(p._1) == -1)
        val surv = batches(i).map(_._1).filterNot(dropped).foldLeft(Digest.empty)((d, id) => d + h(Seq(id)))
        kv ++= Seq(s"batch.$i.pairs" -> ps.length, s"batch.$i.survivors.rows" -> surv.rows,
          s"batch.$i.survivors.hash" -> surv.hash)
      } finally pw.close()
      writeProps(new File(dir, "truth.properties"), Seq(
        "corpus" -> sz.corpus, "batch" -> sz.batch, "batches" -> sz.batches,
        "pairs_with_corpus" -> nearCorpus) ++ kv)
    }
}
