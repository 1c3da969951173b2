package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftglue.Bridge
import graft.operators.{ClusionInput, Clusions, ColumnFilter}

/** Readers with decode-time column pruning: include/exclude clusions
  * are converted to a pruned *reader schema* handed to the scan, the
  * Spark-native analog of the reference's Avro reader-schema rewrite
  * (avro_direct.cpp:107-166) and PBD wire-type skipping
  * (pbd.hpp:176-207) — pruned leaves are never decoded, which at
  * 100 TB is the difference between reading a column chunk and not.
  * Catalyst's nested-schema pruning provides the same effect for
  * columns dropped later in the plan; passing the schema up front
  * additionally prunes even when the caller materializes the frame
  * directly.
  *
  * Filter semantics (pinned by avro_tests.py:206-250):
  *  - no includes anywhere → include-all by default, explicit
  *    excludes prune their subtree;
  *  - any include → exclude-all by default; an explicit include
  *    covers its whole subtree; an explicit exclude cuts an
  *    inherited include, but deeper explicit includes revive their
  *    branch (exclude='oa', include=[{}, 'oa.ia'] keeps oa.ia).
  *
  * Opening a source resolves its full schema before pruning it. The
  * parquet, ORC, Avro, Arrow and PBD readers resolve it on the driver
  * from the format's own metadata (a parquet or ORC footer, the Avro
  * writer schema, the Arrow schema message, the PBD descriptor
  * header) and start no Spark job; parquet's schema merging, when the
  * session turns it on, is the exception. `readJson`'s inference is a
  * full-scan job, one per call, which passing `schema` skips.
  */
object Sources {
  import ClusionInput.Empty

  /** Validate every clusion path against the full schema (the same
    * walk Flatten does), then build the filter: a typo'd include
    * must throw, not silently prune the frame to zero columns.
    */
  private[graft] def validatedFilter(full: StructType, include: ClusionInput,
                                     exclude: ClusionInput): ColumnFilter = {
    (Clusions.paths(include) ++ Clusions.paths(exclude))
      .foreach(graft.operators.Flatten.validatePath(full, _))
    Clusions.convert(include, exclude)
  }

  def readParquet(spark: SparkSession, path: String,
                  include: ClusionInput = Empty,
                  exclude: ClusionInput = Empty): DataFrame = {
    val full = parquetSchema(spark, path)
    val pruned = pruneSchema(full, validatedFilter(full, include, exclude))
    spark.read.schema(pruned).parquet(path)
  }

  /** The schema `spark.read.parquet(path).schema` resolves, read on
    * the driver. With mergeSchema off, Spark's inference reads one
    * footer: `_common_metadata`, else `_metadata`, else the first data
    * file by path (`ParquetUtils.inferSchema`). It does so in a
    * one-task job whose closure ships the whole Hadoop configuration;
    * this reads the same footer in place. Globbing, the missing-path
    * check, the hidden-file filter and partition discovery are Spark's
    * own (`DataSource`, `InMemoryFileIndex`), so errors and partition
    * columns are unchanged. Merging schemas must read every footer,
    * and there Spark's parallel job is kept, as it is for a streaming
    * sink's output, which Spark lists from its metadata log.
    */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE,
      PARQUET_METADATA_FILE}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex,
      PartitioningUtils}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    val sqlConf = Bridge.sqlConf(spark)
    val hadoopConf = Bridge.hadoopConf(spark)
    if (sqlConf.isParquetSchemaMergingEnabled ||
      FileStreamSink.hasMetadata(Seq(path), hadoopConf, sqlConf)) {
      spark.read.parquet(path).schema
    } else {
      val index = new InMemoryFileIndex(spark, Bridge.globbedPaths(path, hadoopConf),
        Map.empty, None, FileStatusCache.getOrCreate(spark))
      val files = index.allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      val toTouch = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      val footer = toTouch.flatMap { f =>
        try Some(new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)))
        catch { // what Spark's footer reader catches, and how
          case _: RuntimeException if sqlConf.ignoreCorruptFiles => None
          case e: RuntimeException => throw Bridge.cannotReadFooter(f.getPath, e)
        }
      }
      val data = footer.map(ParquetFileFormat.readSchemaFromFooter(_,
        new ParquetToSparkSchemaConverter(sqlConf)))
        .getOrElse(throw Bridge.unableToInferSchema("Parquet"))
      PartitioningUtils.mergeDataAndPartitionSchema(Bridge.asNullable(data),
        index.partitionSchema, sqlConf.caseSensitiveAnalysis)._1
    }
  }

  def readOrc(spark: SparkSession, path: String,
              include: ClusionInput = Empty,
              exclude: ClusionInput = Empty): DataFrame = {
    val full = spark.read.orc(path).schema
    val pruned = pruneSchema(full, validatedFilter(full, include, exclude))
    spark.read.schema(pruned).orc(path)
  }

  /** JSON-lines reader (scales where the reference's whole-document
    * DOM parse does not; from_json analog, core.py:49-54). Schema
    * inference plays the role of the reference's dynamic node-tree
    * growth, including cross-record schema union with null backfill.
    * Pass `schema` to skip the inference pass (the schema-driven
    * mode, §1.4).
    */
  def readJson(spark: SparkSession, path: String,
               include: ClusionInput = Empty,
               exclude: ClusionInput = Empty,
               schema: Option[StructType] = None,
               wholeDocument: Boolean = false): DataFrame = {
    // wholeDocument = the reference's from_json shape (one DOM per
    // file, a top-level array becoming the row list); JSON-lines is
    // the default because it is the shape that scales
    def reader = {
      val r = spark.read.option("multiLine", wholeDocument)
      r
    }
    val full = schema.getOrElse(reader.json(path).schema)
    val pruned = pruneSchema(full, validatedFilter(full, include, exclude))
    reader.schema(pruned).json(path)
  }

  /** Avro object-container reader (from_avro analog, core.py:36-38),
    * backed by the engine's own DataSource V2 implementation
    * ([[graft.sources.avro.GraftAvroSource]]): the writer schema
    * drives the table schema, and include/exclude prune down to a
    * rebuilt reader schema so deselected fields are never decoded —
    * the reference's schema projection (avro_direct.cpp:107-166).
    */
  def readAvro(spark: SparkSession, path: String,
               include: ClusionInput = Empty,
               exclude: ClusionInput = Empty,
               strictEnums: Boolean = false): DataFrame = {
    if (strictEnums) requireIdenticalAvroEnums(path)
    val full = spark.read.format("graft-avro").load(path).schema
    val pruned = pruneSchema(full, validatedFilter(full, include, exclude))
    spark.read.schema(pruned).format("graft-avro").load(path)
  }

  /** Reference-parity enum identity check (columns.cpp:22-32) for a
    * multi-file Avro read: an enum type (by full name) appearing in
    * several files must carry the identical symbol list in each —
    * enums decode as strings, so nothing downstream would catch a
    * renumbered or reworded table. */
  private def requireIdenticalAvroEnums(path: String): Unit = {
    import org.apache.avro.Schema
    import scala.jdk.CollectionConverters._
    def enumsOf(s: Schema,
                seen: java.util.IdentityHashMap[Schema, Unit]
                ): Map[String, Seq[String]] = {
      if (seen.containsKey(s)) Map.empty
      else {
        seen.put(s, ())
        s.getType match {
          case Schema.Type.ENUM =>
            Map(s.getFullName -> s.getEnumSymbols.asScala.toSeq)
          case Schema.Type.RECORD =>
            s.getFields.asScala.map(f => enumsOf(f.schema(), seen))
              .foldLeft(Map.empty[String, Seq[String]])(_ ++ _)
          case Schema.Type.ARRAY => enumsOf(s.getElementType, seen)
          case Schema.Type.MAP => enumsOf(s.getValueType, seen)
          case Schema.Type.UNION =>
            s.getTypes.asScala.map(enumsOf(_, seen))
              .foldLeft(Map.empty[String, Seq[String]])(_ ++ _)
          case _ => Map.empty
        }
      }
    }
    val files = graft.sources.avro.GraftAvroSource.listFiles(Seq(path))
    val tables = files.map { f =>
      f -> enumsOf(graft.sources.avro.GraftAvroSource.writerSchema(f),
        new java.util.IdentityHashMap[Schema, Unit]())
    }
    tables.drop(1).foreach { case (f, em) =>
      val (f0, base) = tables.head
      (base.keySet intersect em.keySet).foreach { en =>
        require(base(en) == em(en),
          s"strictEnums: enum $en has different symbol tables in " +
            s"$f0 (${base(en)}) and $f (${em(en)})")
      }
    }
  }

  /** from_object analog (core.py:30-33): typed local collections via
    * Encoders. Heterogeneous-record schema union (nodes.py:552-563)
    * maps to [[unionByNameAll]].
    */
  def fromObjects[T: Encoder](spark: SparkSession, values: Seq[T]): Dataset[T] =
    spark.createDataset(values)

  /** Schema-union of frames with differing columns, null-backfilled
    * both directions — the reference's dynamic-schema record union.
    */
  def unionByNameAll(frames: Seq[DataFrame]): DataFrame =
    frames.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))

  /** Prune a nested schema by the combined include/exclude filter.
    * An all-pruned schema comes back empty (the reference's empty
    * selection short-circuit, avro_direct.cpp:201-209).
    */
  def pruneSchema(schema: StructType, filter: ColumnFilter): StructType = {
    val defaultInclude = !filter.hasIncludes
    pruneStruct(schema, filter, inherited = filter.includeExplicit, defaultInclude)
      .getOrElse(StructType(Nil))
  }

  private val emptyFilter = ColumnFilter(includeExplicit = false, excludeExplicit = false, Map.empty)

  private def pruneStruct(st: StructType, f: ColumnFilter, inherited: Boolean,
                          defaultInclude: Boolean): Option[StructType] = {
    val kept = st.fields.flatMap { fld =>
      val cf = f.fields.getOrElse(fld.name, emptyFilter)
      if (cf.excludeExplicit && !cf.hasIncludes) None
      else {
        // an explicit exclude cuts the inherited include; deeper
        // explicit includes revive their own branches
        val childInherited = !cf.excludeExplicit && (inherited || cf.includeExplicit)
        val selected = childInherited || cf.hasIncludes ||
          (defaultInclude && !cf.excludeExplicit)
        if (!selected) None
        else pruneType(fld.dataType, cf, childInherited, defaultInclude)
          .map(t => fld.copy(dataType = t))
      }
    }
    if (kept.isEmpty) None else Some(StructType(kept))
  }

  private def pruneType(dt: DataType, cf: ColumnFilter, inherited: Boolean,
                        defaultInclude: Boolean): Option[DataType] = dt match {
    case st: StructType => pruneStruct(st, cf, inherited, defaultInclude)
    case ArrayType(e, n) => pruneType(e, cf, inherited, defaultInclude).map(ArrayType(_, n))
    case MapType(k, v, n) =>
      // maps address their contents through the synthetic key/value
      // fields, exactly as Flatten's stripArrays models them — so the
      // same clusion string ("m.value.x") means the same thing in
      // both public APIs. A spec without key/value segments applies
      // to the value type directly (a bare "m" include/exclude).
      val vf = if (cf.fields.contains("value") || cf.fields.contains("key"))
        cf.fields.getOrElse("value", emptyFilter) else cf
      val childInherited = !vf.excludeExplicit && (inherited || vf.includeExplicit)
      pruneType(v, vf, childInherited, defaultInclude).map(MapType(k, _, n))
    case other => Some(other)
  }
}
