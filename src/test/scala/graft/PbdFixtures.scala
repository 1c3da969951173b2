package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import org.sparkproject.spark_core.protobuf.{CodedOutputStream, DynamicMessage}
import org.sparkproject.spark_core.protobuf.DescriptorProtos._
import org.sparkproject.spark_core.protobuf.Descriptors.FileDescriptor
import FieldDescriptorProto.{Label, Type}

/** Generator of the committed PBD fixtures `src/test/resources/pbd/
  * example.pbd` and `perf_example.pbd`: FIXTURES.md §5's record
  * (pbd_tests.py:62-92), encoded by protobuf-java — the copy shaded
  * into spark-core — rather than by graft's own `PbdWriter`, so the
  * golden bytes come from an encoder graft does not share.
  *
  * Two proto3 files: `dependency.proto` declares `DependencyEnum`;
  * `example.proto` imports it and declares `SimpleEnum`,
  * `OtherMessage{b}` and `SimpleMessage` with its nested
  * `NestedMessage{c, d}`. Each container holds one record, wrapped the
  * way `PbdSource.parseHeader` reads it: big-endian magic, version 0,
  * the length-prefixed descriptors (dependency first), the root
  * message name, then varint-delimited records.
  *
  * Regenerate with `sbt "Test/runMain graft.PbdFixtures"` (optional
  * argument: output directory, default `src/test/resources/pbd`).
  */
object PbdFixtures {
  private val Package = "graft.fixtures"
  private val DependencyPackage = "graft.fixtures.dep"
  private val RootName = s"$Package.SimpleMessage"
  /** Size of the reference's perf record (pbd_tests.py:47). */
  val PerfRecordBytes = 82

  private val Magic = 0x000010bd

  private def field(name: String, number: Int, t: Type, typeName: String = "",
                    repeated: Boolean = false): FieldDescriptorProto = {
    val b = FieldDescriptorProto.newBuilder().setName(name).setNumber(number)
      .setLabel(if (repeated) Label.LABEL_REPEATED else Label.LABEL_OPTIONAL)
      .setType(t)
    if (typeName.nonEmpty) b.setTypeName(typeName)
    b.build()
  }

  private def enumType(name: String, values: (String, Int)*): EnumDescriptorProto =
    values.foldLeft(EnumDescriptorProto.newBuilder().setName(name)) {
      case (b, (v, n)) =>
        b.addValue(EnumValueDescriptorProto.newBuilder().setName(v).setNumber(n))
    }.build()

  private def message(name: String, fields: FieldDescriptorProto*): DescriptorProto.Builder =
    fields.foldLeft(DescriptorProto.newBuilder().setName(name))(_.addField(_))

  private val dependencyProto: FileDescriptorProto = FileDescriptorProto.newBuilder()
    .setName("dependency.proto").setPackage(DependencyPackage).setSyntax("proto3")
    .addEnumType(enumType("DependencyEnum", "DE0" -> 0, "DE1" -> 1))
    .build()

  private val exampleProto: FileDescriptorProto = FileDescriptorProto.newBuilder()
    .setName("example.proto").setPackage(Package).setSyntax("proto3")
    .addDependency("dependency.proto")
    .addEnumType(enumType("SimpleEnum", "A" -> 0, "B" -> 1))
    .addMessageType(message("OtherMessage", field("b", 1, Type.TYPE_INT32)))
    .addMessageType(message("SimpleMessage",
      field("a", 1, Type.TYPE_INT32),
      field("m", 2, Type.TYPE_MESSAGE, s".$Package.OtherMessage"),
      field("d", 3, Type.TYPE_MESSAGE, s".$RootName.NestedMessage"),
      field("e", 4, Type.TYPE_ENUM, s".$Package.SimpleEnum"),
      field("f", 5, Type.TYPE_DOUBLE, repeated = true), // proto3: packed
      field("s", 6, Type.TYPE_STRING),
      field("sd", 7, Type.TYPE_STRING),
      field("rm", 8, Type.TYPE_MESSAGE, s".$Package.OtherMessage", repeated = true),
      field("de", 9, Type.TYPE_ENUM, s".$DependencyPackage.DependencyEnum"))
      .addNestedType(message("NestedMessage",
        field("c", 1, Type.TYPE_INT32), field("d", 2, Type.TYPE_DOUBLE))))
    .build()

  /** a=13, m.b=23, d.c=33, d.d=-1.3, e=B, f=[2.3, 3.3], s="test",
    * rm=[{b:11}, {b:22}], de=DE1; sd as given (None leaves it unset,
    * so the decoder must synthesize the proto3 default ""). B and DE1
    * are non-zero, so they are on the wire, not proto3 defaults. */
  private def record(sd: Option[String]): Array[Byte] = {
    val dep = FileDescriptor.buildFrom(dependencyProto, Array.empty[FileDescriptor])
    val root = FileDescriptor.buildFrom(exampleProto, Array(dep))
      .findMessageTypeByName("SimpleMessage")
    def f(name: String) = root.findFieldByName(name)
    def other(b: Int) = {
      val t = f("m").getMessageType
      DynamicMessage.newBuilder(t).setField(t.findFieldByName("b"), Int.box(b)).build()
    }
    val nested = {
      val t = f("d").getMessageType
      DynamicMessage.newBuilder(t)
        .setField(t.findFieldByName("c"), Int.box(33))
        .setField(t.findFieldByName("d"), Double.box(-1.3))
        .build()
    }
    val b = DynamicMessage.newBuilder(root)
      .setField(f("a"), Int.box(13))
      .setField(f("m"), other(23))
      .setField(f("d"), nested)
      .setField(f("e"), f("e").getEnumType.findValueByName("B"))
      .addRepeatedField(f("f"), Double.box(2.3))
      .addRepeatedField(f("f"), Double.box(3.3))
      .setField(f("s"), "test")
      .addRepeatedField(f("rm"), other(11))
      .addRepeatedField(f("rm"), other(22))
      .setField(f("de"), f("de").getEnumType.findValueByName("DE1"))
    sd.foreach(b.setField(f("sd"), _))
    b.build().toByteArray
  }

  private def container(records: Array[Byte]*): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = CodedOutputStream.newInstance(bytes)
    out.writeRawBytes(ByteBuffer.allocate(4).putInt(Magic).array())
    out.writeUInt32NoTag(0) // version
    val files = Seq(dependencyProto, exampleProto)
    out.writeUInt32NoTag(files.size)
    files.foreach(fd => out.writeByteArrayNoTag(fd.toByteArray))
    out.writeStringNoTag(RootName)
    records.foreach(out.writeByteArrayNoTag)
    out.flush()
    bytes.toByteArray
  }

  /** FIXTURES.md §5's one record, sd unset. */
  def example: Array[Byte] = container(record(sd = None))

  /** The perf test's one record: the example record with sd set as
    * well, so every field is on the wire; the 25-character value
    * makes it the reference perf record's 82 bytes. */
  def perfExample: Array[Byte] = {
    val rec = record(sd = Some("perf_example: every field"))
    require(rec.length == PerfRecordBytes,
      s"perf record is ${rec.length} bytes, expected $PerfRecordBytes")
    container(rec)
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("src/test/resources/pbd"))
    Files.createDirectories(dir)
    Seq("example.pbd" -> example, "perf_example.pbd" -> perfExample).foreach {
      case (name, bytes) =>
        Files.write(dir.resolve(name), bytes)
        println(s"wrote ${dir.resolve(name)} (${bytes.length} B)")
    }
  }
}
