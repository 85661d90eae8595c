package graft.avro

import java.nio.ByteBuffer

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.SparkSpec

import scala.jdk.CollectionConverters._

/** Avro bridge (L2) spec. Mirrors the reference's test style: construct
  * records, run `record.sql(...)`, compare output schema + values
  * (reference: AvroSqlTest.scala `compare` helper, :12-24).
  *
  * Fixture shapes reproduce the reference's Pizza (array-of-record) and
  * Person (nested record with nullable branch) — Pizza.scala:3-5,
  * Person.scala:3-9 / FIXTURES.md.
  */
class AvroBridgeSpec extends AnyWordSpec with Matchers with SparkSpec {

  import AvroSql.implicits._
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  // --- fixtures ----------------------------------------------------------

  private val streetSchema = SchemaBuilder.record("Street").namespace("fix")
    .fields().requiredString("name").endRecord()

  private val addressSchema = SchemaBuilder.record("Address").namespace("fix")
    .doc("where someone lives")
    .fields()
    .name("street").`type`(streetSchema).noDefault()
    .name("street2").`type`().optional().`type`(streetSchema)
    .requiredString("city")
    .requiredString("state")
    .requiredString("zip")
    .endRecord()

  private val personSchema = SchemaBuilder.record("Person").namespace("fix")
    .fields()
    .requiredString("name")
    .name("address").`type`(addressSchema).noDefault()
    .endRecord()

  private def street(n: String) = {
    val r = new GenericData.Record(streetSchema)
    r.put("name", n)
    r
  }

  private def person(withStreet2: Boolean) = {
    val a = new GenericData.Record(addressSchema)
    a.put("street", street("Rose Ave"))
    a.put("street2", if (withStreet2) street("Back Alley") else null)
    a.put("city", "Springfield")
    a.put("state", "IL")
    a.put("zip", "62701")
    val p = new GenericData.Record(personSchema)
    p.put("name", "Homer")
    p.put("address", a)
    p
  }

  private val ingredientSchema = SchemaBuilder.record("Ingredient").namespace("fix")
    .fields().requiredString("name").requiredDouble("sugar").requiredDouble("fat")
    .endRecord()

  private val pizzaSchema = SchemaBuilder.record("Pizza").namespace("fix")
    .fields()
    .requiredString("name")
    .name("ingredients").`type`().array().items(ingredientSchema).noDefault()
    .requiredBoolean("vegetarian")
    .requiredInt("calories")
    .endRecord()

  private def pizza() = {
    def ing(n: String, s: Double, f: Double) = {
      val r = new GenericData.Record(ingredientSchema)
      r.put("name", n); r.put("sugar", s); r.put("fat", f); r
    }
    val p = new GenericData.Record(pizzaSchema)
    p.put("name", "pepperoni")
    val arr = new java.util.ArrayList[Any]()
    arr.add(ing("pepperoni", 12.0, 4.4)); arr.add(ing("onions", 1.0, 0.4))
    p.put("ingredients", arr)
    p.put("vegetarian", false)
    p.put("calories", 98)
    p
  }

  // --- schema conversion -------------------------------------------------

  "AvroSchemaConverter" should {
    "convert nested records with nullable-union unwrap (O13)" in {
      val st = AvroSchemaConverter.toStruct(personSchema)
      st.fieldNames.toSeq shouldBe Seq("name", "address")
      val addr = st("address").dataType.asInstanceOf[StructType]
      addr("street2").nullable shouldBe true
      addr("street").nullable shouldBe false
      addr("street2").dataType.asInstanceOf[StructType]("name").dataType shouldBe StringType
    }

    "reject multi-type unions under strictUnions, as the reference does (AvroSchemaSql.scala:45)" in {
      val bad = Schema.createUnion(java.util.Arrays.asList(
        Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.INT)))
      val rec = SchemaBuilder.record("R").fields()
        .name("u").`type`(bad).noDefault().endRecord()
      an[IllegalArgumentException] should be thrownBy
        AvroSchemaConverter.toStruct(rec, strictUnions = true)
      // default mode is the tagged-struct extension, which accepts them
      AvroSchemaConverter.toStruct(rec)("u").dataType shouldBe a[StructType]
    }

    "map logical types to native Spark types" in {
      val rec = SchemaBuilder.record("L").fields()
        .name("dec").`type`(LogicalTypes.decimal(10, 2)
          .addToSchema(Schema.create(Schema.Type.BYTES))).noDefault()
        .name("d").`type`(LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))).noDefault()
        .name("tsm").`type`(LogicalTypes.timestampMillis()
          .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
        .name("tsu").`type`(LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
        .endRecord()
      val st = AvroSchemaConverter.toStruct(rec)
      st("dec").dataType shouldBe DecimalType(10, 2)
      st("d").dataType shouldBe DateType
      st("tsm").dataType shouldBe TimestampType
      st("tsu").dataType shouldBe TimestampType
      st("tsm").metadata.getString("avro.logicalType") shouldBe "timestamp-millis"
      st("tsu").metadata.getString("avro.logicalType") shouldBe "timestamp-micros"
    }

    "carry record name/namespace/doc through to the derived schema (O15)" in {
      val st = AvroSchemaConverter.toStruct(personSchema)
      val back = AvroSchemaConverter.toAvro(st, "Person", Some("fix"), None)
      back.getFullName shouldBe "fix.Person"
      val addr = back.getField("address").schema()
      addr.getFullName shouldBe "fix.Address"
      addr.getDoc shouldBe "where someone lives"
      // nullable branch became [null, Street] again
      val st2 = addr.getField("street2").schema()
      st2.getType shouldBe Schema.Type.UNION
      AvroSchemaConverter.fromUnion(st2)._1.getFullName shouldBe "fix.Street"
    }

    "round-trip an ARRAY of enum via element metadata" in {
      val e = Schema.createEnum("Tag", null, "fix",
        java.util.Arrays.asList("HOT", "COLD"))
      val rec = SchemaBuilder.record("R").fields()
        .name("tags").`type`().array().items(e).noDefault()
        .endRecord()
      val st = AvroSchemaConverter.toStruct(rec)
      st("tags").dataType shouldBe ArrayType(StringType, containsNull = false)
      val back = AvroSchemaConverter.toAvro(st, "R", None, None)
      val elem = back.getField("tags").schema().getElementType
      elem.getType shouldBe Schema.Type.ENUM
      elem.getEnumSymbols.asScala.toSeq shouldBe Seq("HOT", "COLD")
    }

    "round-trip enum and fixed via metadata" in {
      val e = Schema.createEnum("Color", null, "fix",
        java.util.Arrays.asList("RED", "GREEN"))
      val f = Schema.createFixed("Hash", null, "fix", 16)
      val rec = SchemaBuilder.record("R").fields()
        .name("c").`type`(e).noDefault()
        .name("h").`type`(f).noDefault()
        .endRecord()
      val st = AvroSchemaConverter.toStruct(rec)
      st("c").dataType shouldBe StringType
      st("h").dataType shouldBe BinaryType
      val back = AvroSchemaConverter.toAvro(st, "R", None, None)
      back.getField("c").schema().getType shouldBe Schema.Type.ENUM
      back.getField("c").schema().getEnumSymbols.asScala.toSeq shouldBe Seq("RED", "GREEN")
      back.getField("h").schema().getFixedSize shouldBe 16
    }
  }

  // --- record.sql --------------------------------------------------------

  "record.sql (flatten)" should {
    "return null for null input (ref AvroSqlTest.scala:27)" in {
      AvroSql.sql(null, "SELECT *") shouldBe null
    }

    "flatten nested paths with rename (ref :132-158)" in {
      val out = person(withStreet2 = true)
        .sql("SELECT name, address.street.name as streetName, address.city")
      out.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe
        Seq("name", "streetName", "city")
      out.get("name").toString shouldBe "Homer"
      out.get("streetName").toString shouldBe "Rose Ave"
      out.get("city").toString shouldBe "Springfield"
    }

    "propagate nullability through a nullable parent (O14, ref :160-172)" in {
      val out = person(withStreet2 = false)
        .sql("SELECT address.street2.name as streetName2")
      // schema side: field is a [null, string] union
      val fs = out.getSchema.getField("streetName2").schema()
      fs.getType shouldBe Schema.Type.UNION
      // value side: null parent → null leaf
      out.get("streetName2") shouldBe null
      person(withStreet2 = true)
        .sql("SELECT address.street2.name as streetName2")
        .get("streetName2").toString shouldBe "Back Alley"
    }

    "star with exclusion reorders fields (ref :277-305)" in {
      val out = person(withStreet2 = true)
        .sql("SELECT address.zip as Z, address.*")
      out.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe
        Seq("Z", "street", "street2", "city", "state")
      out.get("Z").toString shouldBe "62701"
    }

    "reject unknown fields (ref :238-248)" in {
      an[Exception] should be thrownBy person(true).sql("SELECT nope")
    }

    "reject flatten of an array field (O7, ref :120-130)" in {
      an[IllegalArgumentException] should be thrownBy
        pizza().sql("SELECT *, name as fieldName")
    }
  }

  "record.sql (withstructure)" should {
    "identity on SELECT * (ref withstructure :72-81)" in {
      val out = pizza().sql("SELECT * FROM topic withstructure")
      out.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe
        Seq("name", "ingredients", "vegetarian", "calories")
      out.get("calories") shouldBe 98
    }

    "project inside array elements (O10, ref :158-262)" in {
      val out = pizza().sql("SELECT name, ingredients.name as iname FROM t withstructure")
      val ings = out.get("ingredients").asInstanceOf[java.util.Collection[Any]]
        .asScala.toSeq.map(_.asInstanceOf[org.apache.avro.generic.GenericRecord])
      ings.map(_.get("iname").toString) shouldBe Seq("pepperoni", "onions")
      ings.head.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe Seq("iname")
    }
  }

  "record.sql EP3 (pre-parsed fields)" should {
    "project with explicit Field descriptors, both modes (ref :86-103)" in {
      import graft.sql.Field
      val fields = Seq(Field("name", "who", Nil),
        Field("name", "streetName", Seq("address", "street")))
      val flat = AvroSql.sql(person(true), fields, flatten = true)
      flat.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe
        Seq("who", "streetName")
      flat.get("streetName").toString shouldBe "Rose Ave"

      val ws = AvroSql.sql(person(true),
        Seq(Field("city", "city", Seq("address"))), flatten = false)
      ws.getSchema.getFields.asScala.map(_.name()).toSeq shouldBe Seq("address")
    }
  }

  "primitive containers (O12)" should {
    "pass through on SELECT * (ref :39-65)" in {
      import AvroSql.implicits._
      val p = AvroPrimitive(42, Schema.create(Schema.Type.INT))
      p.sql("SELECT *") shouldBe p
    }
    "reject named selection (ref :67-73)" in {
      val p = AvroPrimitive(42, Schema.create(Schema.Type.INT))
      an[IllegalArgumentException] should be thrownBy p.sql("SELECT field1")
    }
  }

  // --- value codec + unpacker -------------------------------------------

  "AvroRowCodec + AvroUnpacker" should {
    "round-trip logical types through a projection" in {
      val rec = SchemaBuilder.record("L").namespace("fix").fields()
        .name("dec").`type`(LogicalTypes.decimal(10, 2)
          .addToSchema(Schema.create(Schema.Type.BYTES))).noDefault()
        .name("d").`type`(LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))).noDefault()
        .name("tsu").`type`(LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
        .endRecord()
      val r = new GenericData.Record(rec)
      val bd = new java.math.BigDecimal("12345.67")
      r.put("dec", ByteBuffer.wrap(bd.unscaledValue().toByteArray))
      r.put("d", 20000) // 2024-10-04
      r.put("tsu", 1700000000123456L)
      val out = r.sql("SELECT dec as amount, d, tsu")
      // decimal round-trips through DecimalType
      val amountBytes = out.get("amount").asInstanceOf[ByteBuffer]
      new java.math.BigDecimal(
        new java.math.BigInteger(toBytes(amountBytes)), 2) shouldBe bd
      out.get("d") shouldBe 20000
      out.get("tsu") shouldBe 1700000000123456L
      out.getSchema.getField("tsu").schema().getLogicalType.getName shouldBe
        "timestamp-micros"
    }

    "round-trip enum, fixed and map VALUES through a projection" in {
      val e = Schema.createEnum("Color", null, "fix",
        java.util.Arrays.asList("RED", "GREEN"))
      val fx = Schema.createFixed("Hash", null, "fix", 4)
      val rec = SchemaBuilder.record("V").namespace("fix").fields()
        .name("c").`type`(e).noDefault()
        .name("h").`type`(fx).noDefault()
        .name("m").`type`().map().values(Schema.create(Schema.Type.INT)).noDefault()
        .requiredString("keep")
        .endRecord()
      val r = new GenericData.Record(rec)
      r.put("c", new GenericData.EnumSymbol(e, "GREEN"))
      r.put("h", new GenericData.Fixed(fx, Array[Byte](1, 2, 3, 4)))
      val m = new java.util.HashMap[String, Int]()
      m.put("x", 7); m.put("y", 9)
      r.put("m", m)
      r.put("keep", "yes")
      // flatten rejects MAP columns (O7) — structure mode carries them
      val out = r.sql("SELECT c as colour, h, m, keep FROM t withstructure")
      out.get("colour") shouldBe a[GenericData.EnumSymbol]
      out.get("colour").toString shouldBe "GREEN"
      out.getSchema.getField("colour").schema().getType shouldBe Schema.Type.ENUM
      out.get("h").asInstanceOf[GenericData.Fixed].bytes().toSeq shouldBe
        Seq[Byte](1, 2, 3, 4)
      val mOut = out.get("m").asInstanceOf[java.util.Map[String, Any]]
      mOut.get("x") shouldBe 7
      mOut.get("y") shouldBe 9
      out.get("keep").toString shouldBe "yes"
    }

    "unpack records to plain Scala incl. the micros fix (O17)" in {
      val rec = SchemaBuilder.record("U").fields()
        .requiredString("s")
        .name("tsu").`type`(LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
        .name("tmu").`type`(LogicalTypes.timeMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
        .name("d").`type`(LogicalTypes.date()
          .addToSchema(Schema.create(Schema.Type.INT))).noDefault()
        .endRecord()
      val r = new GenericData.Record(rec)
      r.put("s", new org.apache.avro.util.Utf8("hi"))
      r.put("tsu", 1700000000123456L)
      r.put("tmu", 3661000001L) // 01:01:01.000001
      r.put("d", 0)
      val m = AvroUnpacker(r, rec).asInstanceOf[Map[String, Any]]
      m("s") shouldBe "hi"
      m("tsu") shouldBe "2023-11-14T22:13:20.123456Z"
      m("tmu") shouldBe "01:01:01.000001Z"
      m("d") shouldBe "1970-01-01"
    }

    "unpack pizza to nested Scala collections" in {
      val m = AvroUnpacker(pizza(), pizzaSchema).asInstanceOf[Map[String, Any]]
      m("name") shouldBe "pepperoni"
      val ings = m("ingredients").asInstanceOf[Seq[Map[String, Any]]]
      ings.map(_("name")) shouldBe Seq("pepperoni", "onions")
    }
  }

  "multi-branch unions (extension; reference rejects, AvroSchemaSql.scala:40-47)" should {
    val unionSchema = SchemaBuilder.record("Holder").namespace("fix")
      .fields()
      .requiredLong("id")
      .name("val").`type`(Schema.createUnion(java.util.Arrays.asList(
        Schema.create(Schema.Type.STRING),
        Schema.create(Schema.Type.INT)))).noDefault()
      .name("opt").`type`(Schema.createUnion(java.util.Arrays.asList(
        Schema.create(Schema.Type.NULL),
        Schema.create(Schema.Type.LONG),
        Schema.create(Schema.Type.BOOLEAN)))).noDefault()
      .endRecord()

    def holder(id: Long, v: Any, o: Any) = {
      val r = new GenericData.Record(unionSchema)
      r.put("id", id); r.put("val", v); r.put("opt", o); r
    }

    "map to a tagged struct with branch metadata" in {
      val st = AvroSchemaConverter.toStruct(unionSchema)
      val vf = st("val")
      vf.nullable shouldBe false
      val vt = vf.dataType.asInstanceOf[StructType]
      vt.fieldNames.toSeq shouldBe Seq("tag", "string", "int")
      vf.metadata.getStringArray("avro.union.branches").toSeq shouldBe
        Seq("string", "int")
      val of = st("opt")
      of.nullable shouldBe true // null branch → nullable carrier
      of.dataType.asInstanceOf[StructType].fieldNames.toSeq shouldBe
        Seq("tag", "long", "boolean")
    }

    "stay rejected under strictUnions reference parity" in {
      an[IllegalArgumentException] should be thrownBy
        AvroSchemaConverter.toStruct(unionSchema, strictUnions = true)
    }

    "round-trip values through the bridge" in {
      import graft.sql.GraftSql.implicits._
      val recs = Seq(
        holder(1L, "abc", 7L),
        holder(2L, Int.box(42), Boolean.box(true)),
        holder(3L, "xyz", null))
      val df = AvroBridge.toDF(spark, unionSchema, recs)
      val rows = df.sql("SELECT id, val.tag as t, val.string as s, " +
        "val.int as i, opt.tag as ot").orderBy("id").collect()
      rows.map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.get(3)), Option(r.getString(4)))) shouldBe
        Array(
          (1L, "string", Some("abc"), None, Some("long")),
          (2L, "int", None, Some(42), Some("boolean")),
          (3L, "string", Some("xyz"), None, None))

      // identity round trip: records → DF → records under the SAME union
      val (outSchema, back) = AvroBridge.fromDF(
        AvroBridge.toDF(spark, unionSchema, recs), "Holder", Some("fix"))
      outSchema.getField("val").schema().getType shouldBe Schema.Type.UNION
      outSchema.getField("val").schema().getTypes.asScala
        .map(_.getType) shouldBe Seq(Schema.Type.STRING, Schema.Type.INT)
      outSchema.getField("opt").schema().getTypes.asScala
        .map(_.getType) shouldBe
        Seq(Schema.Type.NULL, Schema.Type.LONG, Schema.Type.BOOLEAN)
      back.map(r => (r.get("id"), r.get("val").toString)) shouldBe
        Seq((1L, "abc"), (2L, "42"), (3L, "xyz"))
      back.map(r => Option(r.get("opt"))) shouldBe
        Seq(Some(7L), Some(true), None)
    }

    "reject a carrier row with a null tag on the way back to Avro" in {
      import org.apache.spark.sql.Row
      val st = AvroSchemaConverter.toStruct(unionSchema)
      val row = Row(1L, Row(null, "abc", null), null)
      the[IllegalArgumentException] thrownBy
        AvroRowCodec.fromRow(row, st, unionSchema) should have message
        "requirement failed: union carrier row has a null tag"
    }

    "unpack to a tagged map" in {
      val m = AvroUnpacker(holder(9L, Int.box(5), null), unionSchema)
        .asInstanceOf[Map[String, Any]]
      m("val") shouldBe Map("tag" -> "int", "int" -> 5)
      Option(m("opt")) shouldBe None
    }
  }

  "AvroBridge bulk path" should {
    "project many records through one plan" in {
      import graft.sql.GraftSql.implicits._
      val recs = (0 until 10).map { i =>
        val p = person(withStreet2 = i % 2 == 0)
        p.put("name", s"p$i"); p
      }
      val df = AvroBridge.toDF(spark, personSchema, recs)
      val out = df.sql("SELECT name, address.city as city")
      val (schema, back) = AvroBridge.fromDF(out, "Person", Some("fix"))
      schema.getField("city").schema().getType shouldBe Schema.Type.STRING
      back.map(_.get("name").toString) should contain theSameElementsAs
        (0 until 10).map(i => s"p$i")
    }
  }

  private def toBytes(bb: ByteBuffer): Array[Byte] = {
    val d = bb.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); a
  }
}
