package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import org.apache.avro.SchemaBuilder
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The writer-schema memo ([[WriterSchemas]]) serves a file's header
  * from its identity (path, file key, modification time, size): a
  * warm `load` opens no header, a warm size estimate reads the codec
  * from it, a file replaced under its name is read again, and equal
  * schemas share one interned value.
  */
class WriterSchemasSpec extends AnyFunSuite with SparkSpec with Matchers {

  /** A data file holding k = 0..9 under one int field `field`, null
    * codec unless `codec` names one: two files differing only in a
    * same-length field name have the same size.
    */
  private def writeFile(f: File, field: String,
      codec: Option[CodecFactory] = None): Unit = {
    val schema = SchemaBuilder.record("row").fields()
      .requiredInt(field).endRecord()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    codec.foreach(w.setCodec)
    w.create(schema, f)
    (0 until 10).foreach { i =>
      val r = new GenericData.Record(schema)
      r.put(field, i)
      w.append(r)
    }
    w.close()
  }

  private def table(field: String): (String, File) = {
    val dir = graft.operators.Catalog.tempDir("graft_wschema")
    val f = new File(dir, "part-00000.avro")
    writeFile(f, field)
    AvroFileSource.appendSnapshot(new File(dir), "append")
    (dir, f)
  }

  private def loadedNames(dir: String): Seq[String] =
    spark.read.format("graft-avro").load(dir).schema.fieldNames.toSeq

  private def headerNames(f: File): Seq[String] = {
    val r = new DataFileReader[GenericRecord](
      f, new GenericDatumReader[GenericRecord]())
    import scala.jdk.CollectionConverters._
    try r.getSchema.getFields.asScala.map(_.name).toSeq finally r.close()
  }

  private def attrs(f: File): BasicFileAttributes =
    Files.readAttributes(f.toPath, classOf[BasicFileAttributes])

  test("a warm load does not reopen a header edited in place") {
    val (dir, f) = table("qqqq")
    loadedNames(dir) shouldBe Seq("qqqq")
    val before = attrs(f)
    // same inode, same size, same modification time: only the bytes move
    val bytes = Files.readAllBytes(f.toPath)
    val at = new String(bytes, "ISO-8859-1").indexOf("\"qqqq\"")
    at should be > 0
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(at + 1); raf.write("zzzz".getBytes("UTF-8")) }
    finally raf.close()
    Files.setLastModifiedTime(f.toPath, before.lastModifiedTime())
    val after = attrs(f)
    after.fileKey() shouldBe before.fileKey()
    after.size() shouldBe before.size()
    after.lastModifiedTime() shouldBe before.lastModifiedTime()
    headerNames(f) shouldBe Seq("zzzz")
    // the memo answers without opening the file
    loadedNames(dir) shouldBe Seq("qqqq")
    // a changed modification time is a new identity: read again
    Files.setLastModifiedTime(f.toPath,
      FileTime.fromMillis(before.lastModifiedTime().toMillis + 2000L))
    loadedNames(dir) shouldBe Seq("zzzz")
  }

  /** Rewrite `from` as `to` (same length) in `f`'s bytes, in place,
    * keeping the file's identity: inode, size and modification time.
    */
  private def editInPlace(f: File, from: String, to: String): Unit = {
    val before = attrs(f)
    val bytes = Files.readAllBytes(f.toPath)
    val at = new String(bytes, "ISO-8859-1").indexOf(from)
    at should be > 0
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(at); raf.write(to.getBytes("ISO-8859-1")) }
    finally raf.close()
    Files.setLastModifiedTime(f.toPath, before.lastModifiedTime())
    val after = attrs(f)
    after.fileKey() shouldBe before.fileKey()
    after.size() shouldBe before.size()
    after.lastModifiedTime() shouldBe before.lastModifiedTime()
  }

  test("a warm size estimate reads the codec from the memo") {
    val dir = graft.operators.Catalog.tempDir("graft_wschema")
    val f = new File(dir, "part-00000.avro")
    writeFile(f, "qqqq", Some(CodecFactory.deflateCodec(6)))
    AvroFileSource.appendSnapshot(new File(dir), "append")
    val schema = spark.read.format("graft-avro").load(dir).schema
    def estimate(): Long = new AvroScanBuilder(dir, schema).build() match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics().sizeInBytes().getAsLong
      case other => fail(s"no statistics from $other")
    }
    // a real codec inflates the on-disk size threefold
    estimate() shouldBe 3L * f.length()
    // a codec Avro does not know: any open of the header now fails
    editInPlace(f, "deflate", "deflatx")
    an[Exception] should be thrownBy headerNames(f)
    estimate() shouldBe 3L * f.length()
    // a new modification time is a new identity: the header is opened,
    // fails, and the estimate falls back to the uninflated size
    Files.setLastModifiedTime(f.toPath,
      FileTime.fromMillis(attrs(f).lastModifiedTime().toMillis + 2000L))
    estimate() shouldBe f.length()
  }

  test("a file replaced under its name by a rename is read again") {
    val (dir, f) = table("qqqq")
    loadedNames(dir) shouldBe Seq("qqqq")
    val before = attrs(f)
    val other = new File(graft.operators.Catalog.tempDir("graft_wschema"),
      "replacement.avro")
    writeFile(other, "zzzz")
    Files.move(other.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(f.toPath, before.lastModifiedTime())
    // only the file key tells the replacement apart
    val after = attrs(f)
    after.size() shouldBe before.size()
    after.lastModifiedTime() shouldBe before.lastModifiedTime()
    after.fileKey() should not be before.fileKey()
    loadedNames(dir) shouldBe Seq("zzzz")
  }

  test("files with equal writer schemas share one interned schema") {
    val dir = graft.operators.Catalog.tempDir("graft_wschema")
    val fs = (0 until 3).map(i => new File(dir, s"part-$i.avro"))
    fs.foreach(writeFile(_, "qqqq"))
    val hs = fs.map(WriterSchemas.of)
    hs.map(_.schema).distinct should have size 1
    hs.foreach { h =>
      h.schema should be theSameInstanceAs hs.head.schema
      h.struct should be theSameInstanceAs hs.head.struct
    }
  }
}
