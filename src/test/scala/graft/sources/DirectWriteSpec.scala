package graft.sources

import java.io.ByteArrayOutputStream

import graft.SparkSpec
import graft.avro.{AvroDirectDatumWriter, AvroInternalCodec, AvroSchemaConverter}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DatumWriter, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** Direct InternalRow→BinaryEncoder write path (AvroDirectDatumWriter).
  *
  * Contract: for every shape [[AvroSchemaConverter.toAvro]] emits, the
  * direct writer encodes each row to the SAME bytes as the reference
  * encoding — a GenericDatumWriter over [[AvroInternalCodec.encoderFor]]'s
  * GenericRecord — so the encode fast path can never change what a
  * reader or the pruning machinery sees. Table writes are checked
  * end to end: every datum in the written files re-encodes to the
  * reference bytes of an input row. Maps are exempt from the byte check
  * (Avro maps are unordered; the reference iterates a HashMap) and are
  * checked by round-trip equality instead.
  */
class DirectWriteSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_directwrite")

  private def avroOf(st: StructType): Schema =
    AvroSchemaConverter.toAvro(st, "topLevelRecord", None, None)

  private def encode[T](w: DatumWriter[T], v: T): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(bos, null)
    w.write(v, enc)
    enc.flush()
    bos.toByteArray
  }

  /** The reference encoding: InternalRow → GenericRecord → generic writer. */
  private def reference(st: StructType): InternalRow => Array[Byte] = {
    val avro = avroOf(st)
    val toRecord = AvroInternalCodec.encoderFor(st, avro)
    val generic = new GenericDatumWriter[GenericRecord](avro)
    r => encode(generic, toRecord(r))
  }

  private def internalRows(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect().toSeq

  /** Direct and reference bytes agree row by row. */
  private def assertEncodesLikeReference(st: StructType,
      rows: Seq[InternalRow]): Unit = {
    val direct = AvroDirectDatumWriter(st, avroOf(st))
    val ref = reference(st)
    rows.zipWithIndex.foreach { case (r, k) =>
      assert(java.util.Arrays.equals(encode(direct, r), ref(r)),
        s"direct vs reference bytes differ at row $k")
    }
  }

  private def dataFiles(root: String): Seq[java.io.File] =
    AvroFileSource.listAvro(new java.io.File(root))

  /** Every datum of the table's data files, re-encoded under the file's
    * own schema, is the reference encoding of an input row (as a
    * multiset: partitioned writes route rows to many files).
    */
  private def assertFilesHoldReference(root: String, st: StructType,
      rows: Seq[InternalRow]): Unit = {
    val onDisk = dataFiles(root).flatMap { f =>
      val r = new org.apache.avro.file.DataFileReader(f,
        new GenericDatumReader[GenericRecord]())
      try {
        val w = new GenericDatumWriter[GenericRecord](r.getSchema)
        r.iterator().asScala.map(g => encode(w, g)).toList
      } finally r.close()
    }
    val ref = reference(st)
    def hex(bs: Seq[Array[Byte]]): Seq[String] =
      bs.map(_.map("%02x".format(_)).mkString).sorted
    hex(onDisk) shouldBe hex(rows.map(ref))
  }

  private def writeTable(df: DataFrame,
      opts: Map[String, String] = Map.empty): String = {
    val dir = tmp()
    val w = df.write.format("graft-avro")
    opts.foreach { case (k, v) => w.option(k, v) }
    w.mode("append").save(dir)
    dir
  }

  /** Encode and write `df`, checking both against the reference. */
  private def checkShape(df: DataFrame,
      opts: Map[String, String] = Map.empty): String = {
    val rows = internalRows(df)
    assertEncodesLikeReference(df.schema, rows)
    val dir = writeTable(df, opts)
    assertFilesHoldReference(dir, df.schema, rows)
    dir
  }

  test("flat mixed primitives: byte-identical to the reference encoding") {
    val df = spark.range(20000).coalesce(1).selectExpr(
      "id",
      "cast(id % 97 as int) as i",
      "cast(id % 2 = 0 as boolean) as b",
      "cast(id % 9973 as double) as d",
      "cast(id % 31 as float) as f",
      "md5(cast(id as string)) as s",
      "if(id % 11 = 0, null, repeat('x', cast(id % 5 as int))) as sn",
      "unhex(md5(cast(id as string))) as bin",
      "date_add(date'2020-01-01', cast(id % 3650 as int)) as dt",
      "timestamp_micros(1500000000000000 + id * 1000) as ts",
      "cast(cast(id as decimal(12,2)) / 7 as decimal(12,2)) as dec")
    checkShape(df)
  }

  test("sorted write: reference bytes and a written block index") {
    val df = spark.range(30000).coalesce(1)
      .selectExpr("id", "md5(cast(id as string)) as s",
        "date_add(date'2020-01-01', cast(id % 3650 as int)) as dt")
      .sortWithinPartitions("id")
    val dir = checkShape(df, Map("sortedBy" -> "id"))
    val bix = new java.io.File(dir, "_graft_blockidx")
    bix.isFile shouldBe true
    java.nio.file.Files.readAllBytes(bix.toPath) should not be empty
  }

  test("nested structs and arrays: byte-identical") {
    val df = spark.range(5000).coalesce(1).selectExpr(
      "id",
      """named_struct('name', md5(cast(id as string)),
           'score', cast(id % 97 as double),
           'inner', named_struct('a', id * 2,
             'b', if(id % 3 = 0, null, cast(id as string)))) as info""",
      "transform(sequence(0, cast(id % 7 as int)), x -> id + x) as xs",
      "if(id % 5 = 0, null, array(cast(id as float))) as fs")
    checkShape(df)
  }

  test("maps: round-trip equality (entry order is representation-only)") {
    val dir = tmp()
    val df = spark.range(5000).coalesce(1).selectExpr(
      "id",
      "map(concat('k', id % 3), id, concat('q', id % 5), id * 2) as m")
    df.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .selectExpr("id", "m['k0']", "m['k1']", "m['k2']", "m['q0']", "m['q4']")
    val want = df
      .selectExpr("id", "m['k0']", "m['k1']", "m['k2']", "m['q0']", "m['q4']")
    back.exceptAll(want).count() shouldBe 0
    want.exceptAll(back).count() shouldBe 0
  }

  test("multi-branch union round-trips through a rewrite byte-identically") {
    // forge a foreign union file, read it (tagged struct), rewrite it
    // through graft-avro
    import org.apache.avro.SchemaBuilder
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = SchemaBuilder.record("U").namespace("ab").fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val src = tmp()
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](recS))
    w.create(recS, new java.io.File(src, "u.avro"))
    try {
      (0 until 4000).foreach { i =>
        val r = new GenericData.Record(recS)
        r.put("uid", i.toLong)
        r.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
        w.append(r)
      }
    } finally w.close()
    val df = spark.read.format("graft-avro").load(src).coalesce(1)
      .orderBy("uid")
    val dir = checkShape(df)
    // and the rewrite still reads back as the original union values
    val back = spark.read.format("graft-avro").load(dir)
    back.where("v.tag = 'string'").count() shouldBe 2000
    back.agg(F.sum("v.long")).head().getLong(0) shouldBe
      (0 until 4000 by 1).filter(_ % 2 == 1).map(_ * 10L).sum
  }

  test("hive partitioning + buckets: identical layout and bytes") {
    val df = spark.range(8000).coalesce(1).selectExpr(
      "id", "cast(id % 3 as int) as p", "md5(cast(id as string)) as s")
    val dir = checkShape(df, Map("partitionBy" -> "p", "bucketBy" -> "id:4"))
    // 3 partition values × 4 buckets, one directory each
    dataFiles(dir).map(_.getParentFile.getPath).distinct.size shouldBe 12
  }

  test("a null in a non-nullable fixed-width field throws, never encodes 0") {
    Seq(BooleanType, IntegerType, DateType, LongType, TimestampType,
        FloatType, DoubleType).foreach { dt =>
      val st = StructType(Seq(StructField("x", dt, nullable = false)))
      val w = AvroDirectDatumWriter(st, avroOf(st))
      withClue(dt.simpleString) {
        an[NullPointerException] should be thrownBy
          encode(w, new GenericInternalRow(Array[Any](null)))
      }
    }
  }

  test("every shape toAvro emits gets a direct writer") {
    // each Avro shape the engine reads, through toStruct (which carries
    // the logical-type/enum/fixed/union metadata) and back out through
    // toAvro — the writer schema of every table write
    val src = new Schema.Parser().parse("""
      {"type": "record", "name": "Shapes", "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
        {"name": "l", "type": "long"},
        {"name": "tu", "type": {"type": "long", "logicalType": "time-micros"}},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "e", "type": {"type": "enum", "name": "Color",
          "symbols": ["RED", "GREEN"]}},
        {"name": "by", "type": "bytes"},
        {"name": "fx", "type": {"type": "fixed", "name": "Four", "size": 4}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
          "precision": 10, "scale": 2}},
        {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
        {"name": "tsm", "type": {"type": "long",
          "logicalType": "timestamp-millis"}},
        {"name": "tsu", "type": {"type": "long",
          "logicalType": "timestamp-micros"}},
        {"name": "ltm", "type": {"type": "long",
          "logicalType": "local-timestamp-millis"}},
        {"name": "ltu", "type": {"type": "long",
          "logicalType": "local-timestamp-micros"}},
        {"name": "rec", "type": ["null", {"type": "record", "name": "Inner",
          "fields": [{"name": "a", "type": "long"},
                     {"name": "n", "type": ["null", "string"]}]}]},
        {"name": "arr", "type": {"type": "array", "items": ["null", "long"]}},
        {"name": "m", "type": {"type": "map", "values": ["null", "string"]}},
        {"name": "un", "type": ["string", "long"]},
        {"name": "nun", "type": ["null", "string", "long"]}
      ]}""")
    val st = AvroSchemaConverter.toStruct(src)
    val avro = avroOf(st)

    // the writer schema really carries every shape
    def shapes(s: Schema): Set[String] = {
      val own = Set(s.getType.getName) ++
        Option(s.getLogicalType).map(_.getName)
      own ++ (s.getType match {
        case Schema.Type.RECORD => s.getFields.asScala.flatMap(f => shapes(f.schema()))
        case Schema.Type.UNION => s.getTypes.asScala.flatMap(shapes)
        case Schema.Type.ARRAY => shapes(s.getElementType)
        case Schema.Type.MAP => shapes(s.getValueType)
        case _ => Nil
      })
    }
    shapes(avro) should contain allOf ("boolean", "int", "long", "float",
      "double", "string", "bytes", "enum", "fixed", "record", "array", "map",
      "union", "null", "time-millis", "time-micros", "uuid", "decimal",
      "date", "timestamp-millis", "timestamp-micros",
      "local-timestamp-millis", "local-timestamp-micros")
    avro.getField("un").schema().getTypes.size shouldBe 2
    avro.getField("nun").schema().getTypes.size shouldBe 3

    // planning throws on any shape it cannot handle
    val direct = AvroDirectDatumWriter(st, avro)

    def rec(nulls: Boolean): GenericRecord = {
      val g = new GenericData.Record(src)
      g.put("b", true); g.put("i", 7); g.put("tm", 3600000)
      g.put("l", 7L); g.put("tu", 3600000000L)
      g.put("f", 1.5f); g.put("d", 2.5); g.put("s", "x")
      g.put("u", "0f8fad5b-d9cb-469f-a165-70867728950e")
      g.put("e", new GenericData.EnumSymbol(src.getField("e").schema(), "GREEN"))
      g.put("by", java.nio.ByteBuffer.wrap(Array[Byte](1, 2)))
      g.put("fx", new GenericData.Fixed(src.getField("fx").schema(),
        Array[Byte](1, 2, 3, 4)))
      g.put("dec", java.nio.ByteBuffer.wrap(
        new java.math.BigDecimal("12.34").unscaledValue().toByteArray))
      g.put("dt", 19000)
      g.put("tsm", 1500000000123L); g.put("tsu", 1500000000123456L)
      g.put("ltm", 1500000000123L); g.put("ltu", 1500000000123456L)
      val inner = new GenericData.Record(
        src.getField("rec").schema().getTypes.get(1))
      inner.put("a", 3L); inner.put("n", if (nulls) null else "n")
      g.put("rec", if (nulls) null else inner)
      g.put("arr", java.util.Arrays.asList[java.lang.Long](1L, null))
      val m = new java.util.HashMap[String, String]()
      m.put("k", if (nulls) null else "v")
      g.put("m", m)
      g.put("un", if (nulls) Long.box(9L) else "str")
      g.put("nun", if (nulls) null else Long.box(5L))
      g
    }
    val decode = AvroInternalCodec.decoderFor(src, st)
    val srcWriter = new GenericDatumWriter[GenericRecord](src)
    Seq(false, true).foreach { nulls =>
      // canonical reader representation of the record, then Catalyst
      val bytes = encode(srcWriter, rec(nulls))
      val read = new GenericDatumReader[GenericRecord](src)
        .read(null, DecoderFactory.get().binaryDecoder(bytes, null))
      val row = decode(read)
      withClue(s"nulls=$nulls") {
        encode(direct, row) shouldBe reference(st)(row)
        // the same binary datum the source schema encodes
        encode(direct, row) shouldBe bytes
      }
    }
  }
}
