package graft.sources

import java.io.File

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Multi-branch unions through the graft-avro DSv2 source: a foreign
  * writer's `[string, long]` union column infers as the tagged struct
  * (AvroSchemaConverter extension), decodes through the fused internal
  * codec, and survives a read → rewrite round trip with the union
  * reconstructed in the output file schema.
  */
class UnionSourceSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val unionS = Schema.createUnion(java.util.Arrays.asList(
    Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
  private val recS = SchemaBuilder.record("U").namespace("fix").fields()
    .requiredLong("id")
    .name("v").`type`(unionS).noDefault()
    .endRecord()

  private def writeForeign(dir: String, n: Int): Unit = {
    new File(dir).mkdirs()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](recS))
    w.create(recS, new File(dir, "foreign.avro"))
    try (0 until n).foreach { i =>
      val r = new GenericData.Record(recS)
      r.put("id", i.toLong)
      r.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
      w.append(r)
    } finally w.close()
  }

  test("foreign union file reads as tagged struct, rewrites with the union intact") {
    val dir = graft.operators.Catalog.tempDir("graft_union_src")
    writeForeign(dir, 20)
    val df = spark.read.format("graft-avro").load(dir)
    val vt = df.schema("v").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    vt.fieldNames.toSeq shouldBe Seq("tag", "string", "long")

    val rows = df.select(F.col("id"), F.col("v.tag"),
      F.col("v.string"), F.col("v.long")).orderBy("id").collect()
    rows.length shouldBe 20
    rows(0).getString(1) shouldBe "string"
    rows(0).getString(2) shouldBe "s0"
    rows(1).getString(1) shouldBe "long"
    rows(1).getLong(3) shouldBe 10L

    // rewrite through the graft-avro sink: the union reconstructs
    val out = graft.operators.Catalog.tempDir("graft_union_out")
    df.write.format("graft-avro").mode("overwrite").save(out)
    val back = spark.read.format("graft-avro").load(out)
    back.select(F.col("id"), F.col("v.tag"), F.col("v.string"),
        F.col("v.long")).orderBy("id").collect() shouldBe rows
    // the physical file schema carries a real [string, long] union
    val f = AvroFileSource.listAvro(new File(out)).head
    val r = new org.apache.avro.file.DataFileReader[GenericRecord](f,
      new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
    try {
      val vs = r.getSchema.getField("v").schema()
      vs.getType shouldBe Schema.Type.UNION
      import scala.jdk.CollectionConverters._
      vs.getTypes.asScala.map(_.getType) should contain allOf
        (Schema.Type.STRING, Schema.Type.LONG)
    } finally r.close()
  }

  test("a branch-only read of a union column needs no tag") {
    // column pruning narrows the carrier to the branches a query names;
    // neither the columnar nor the row decoder may insist on the
    // pruned-away tag
    val dir = graft.operators.Catalog.tempDir("graft_union_branch")
    writeForeign(dir, 20)
    Seq("true", "false").foreach { columnar =>
      withClue(s"columnar=$columnar: ") {
        val df = spark.read.format("graft-avro").option("columnar", columnar).load(dir)
        val longs = df.select("v.long").collect().map(r =>
          if (r.isNullAt(0)) None else Some(r.getLong(0)))
        longs.flatten.sorted.toSeq shouldBe (1 until 20 by 2).map(_ * 10L)
        longs.count(_.isEmpty) shouldBe 10
        val strs = df.select("id", "v.string").orderBy("id").collect()
        strs.map(r => Option(r.getString(1))).toSeq shouldBe
          (0 until 20).map(i => if (i % 2 == 0) Some(s"s$i") else None)
      }
    }
  }
}
