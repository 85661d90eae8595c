package graft.avro

import java.nio.ByteBuffer

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord, IndexedRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.SparkThrowable
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.SparkSpec

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

class AvroProjectorSpec extends AnyWordSpec with Matchers with SparkSpec {

  private val streetSchema = SchemaBuilder.record("Street").namespace("fix")
    .fields().requiredString("name").endRecord()
  private val addressSchema = SchemaBuilder.record("Address").namespace("fix")
    .fields()
    .name("street").`type`(streetSchema).noDefault()
    .name("street2").`type`().optional().`type`(streetSchema)
    .requiredString("city")
    .endRecord()
  private val personSchema = SchemaBuilder.record("Person").namespace("fix")
    .fields()
    .requiredString("name")
    .name("address").`type`(addressSchema).noDefault()
    .requiredInt("age")
    .endRecord()

  private def mk(i: Int) = {
    val st = new GenericData.Record(streetSchema)
    st.put("name", s"Street $i")
    val ad = new GenericData.Record(addressSchema)
    ad.put("street", st)
    ad.put("street2", null)
    ad.put("city", s"City ${i % 7}")
    val p = new GenericData.Record(personSchema)
    p.put("name", s"P$i"); p.put("address", ad); p.put("age", 20 + i % 60)
    p
  }


  // an order stream: nested records, a nullable record, an array of
  // records, a map and a foreign [string, long] union
  private val cityZip = SchemaBuilder.record("Addr").namespace("ord")
    .fields().requiredString("city").requiredString("zip").endRecord()
  private val customerSchema = SchemaBuilder.record("Customer").namespace("ord")
    .fields().requiredString("name").requiredInt("tier")
    .name("address").`type`(cityZip).noDefault().endRecord()
  private val itemSchema = SchemaBuilder.record("Item").namespace("ord")
    .fields().requiredString("sku").requiredInt("qty").requiredDouble("price")
    .endRecord()
  private val strOrLong = Schema.createUnion(java.util.Arrays.asList(
    Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))

  /** v1 of the order schema; v2 reorders it and adds `channel`; v3 drops
    * `tags`.
    */
  private def orderSchema(version: Int): Schema = {
    var f = SchemaBuilder.record("Order").namespace("ord").fields()
    if (version != 2) f = f.requiredLong("id")
    f = f.name("customer").`type`(customerSchema).noDefault()
      .optionalString("note")
      .name("ship").`type`().optional().`type`(cityZip)
      .name("items").`type`().array().items(itemSchema).noDefault()
    if (version != 3) f = f.name("tags").`type`().map().values().longType().noDefault()
    f = f.name("v").`type`(strOrLong).noDefault()
    if (version == 2) f = f.requiredString("channel").requiredLong("id")
    f.endRecord()
  }
  private val orderV1 = orderSchema(1)
  private val orderV2 = orderSchema(2)
  private val orderV3 = orderSchema(3)

  private def order(schema: Schema, i: Int): GenericRecord = {
    def addr(c: String) = {
      val a = new GenericData.Record(cityZip)
      a.put("city", s"$c$i"); a.put("zip", f"${i * 7919 % 100000}%05d"); a
    }
    val cu = new GenericData.Record(customerSchema)
    cu.put("name", s"cust$i"); cu.put("tier", i % 4); cu.put("address", addr("city"))
    val items = (0 to i % 3).map { k =>
      val it: GenericRecord = new GenericData.Record(itemSchema)
      it.put("sku", s"sku${i + k}"); it.put("qty", 1 + k); it.put("price", i + k / 4.0)
      it
    }
    val o = new GenericData.Record(schema)
    o.put("id", i.toLong)
    o.put("customer", cu)
    o.put("note", if (i % 3 == 0) null else s"note$i")
    o.put("ship", if (i % 2 == 0) null else addr("port"))
    o.put("items", new GenericData.Array[GenericRecord](
      schema.getField("items").schema(), items.asJava))
    if (schema.getField("tags") != null) {
      val tags = new java.util.HashMap[String, java.lang.Long]()
      (0 until i % 3).foreach(k => tags.put(s"t$k", (i * 10 + k).toLong))
      o.put("tags", tags)
    }
    o.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
    if (schema.getField("channel") != null) o.put("channel", "web")
    o
  }

  // a basket: a nullable array of nullable records (each with a nullable
  // nested record), an array of arrays of records, and a map of records
  private val detailSchema = SchemaBuilder.record("Detail").namespace("bsk")
    .fields().requiredString("color").optionalInt("size").endRecord()
  private val lineSchema = SchemaBuilder.record("Line").namespace("bsk")
    .fields().requiredString("sku").requiredInt("qty").optionalDouble("price")
    .name("detail").`type`().optional().`type`(detailSchema).endRecord()
  private val cellSchema = SchemaBuilder.record("Cell").namespace("bsk")
    .fields().requiredInt("a").optionalString("b").endRecord()
  private val nullableLine = Schema.createUnion(java.util.Arrays.asList(
    Schema.create(Schema.Type.NULL), lineSchema))
  private val basketSchema = SchemaBuilder.record("Basket").namespace("bsk")
    .fields().requiredLong("id")
    .name("lines").`type`().optional().`type`(Schema.createArray(nullableLine))
    .name("grid").`type`(Schema.createArray(Schema.createArray(cellSchema))).noDefault()
    .name("byName").`type`().map().values(lineSchema).noDefault()
    .endRecord()

  private def basket(i: Int): GenericRecord = {
    def line(k: Int): GenericRecord = {
      val l = new GenericData.Record(lineSchema)
      l.put("sku", s"sku$i.$k"); l.put("qty", i + k)
      l.put("price", if (k % 2 == 0) Double.box(i + k / 2.0) else null)
      l.put("detail", if (k % 3 == 1) null else {
        val d = new GenericData.Record(detailSchema)
        d.put("color", s"c$k"); d.put("size", if (k == 2) null else Int.box(k)); d
      })
      l
    }
    def cell(k: Int): GenericRecord = {
      val c = new GenericData.Record(cellSchema)
      c.put("a", k); c.put("b", if (k % 2 == 0) s"b$k" else null); c
    }
    val b = new GenericData.Record(basketSchema)
    b.put("id", i.toLong)
    // null array, empty array, then arrays with a null element
    b.put("lines", i % 4 match {
      case 0 => null
      case 1 => new GenericData.Array[GenericRecord](0, basketSchema.getField("lines").schema().getTypes.get(1))
      case _ => new GenericData.Array[GenericRecord](
        basketSchema.getField("lines").schema().getTypes.get(1),
        (0 to i % 5).map(k => if (k == 1) null else line(k)).asJava)
    })
    val inner = basketSchema.getField("grid").schema().getElementType
    b.put("grid", new GenericData.Array[GenericData.Array[GenericRecord]](
      basketSchema.getField("grid").schema(),
      (0 until i % 3).map(r => new GenericData.Array[GenericRecord](
        inner, (0 until r).map(cell).asJava)).asJava))
    val byName = new java.util.HashMap[String, GenericRecord]()
    (0 until i % 3).foreach(k => byName.put(s"n$k", line(k)))
    b.put("byName", byName)
    b
  }

  /** Projector output must equal a one-row DataFrame's: the record
    * through `AvroBridge.toDF` → `df.sql` → `AvroBridge.fromDF`, a Spark
    * job with no projector in it (`record.sql` is projector-backed), value
    * by value, value class by value class and schema by schema. Any
    * failure on either side fails the test, unless `mayFail` is set: then
    * a record one side refuses, the other must refuse with the same error,
    * and at least one record must pass on both.
    */
  private def agreeWithSql(q: String, inSchema: Schema,
      records: Seq[IndexedRecord], mayFail: Boolean = false): Unit = {
    import graft.sql.GraftSql.implicits._
    val proj = new AvroProjector(spark, inSchema, q)
    val passed = records.count { r =>
      val viaProjector = Try(proj(r))
      val (name, ns, doc) = AvroSchemaConverter.recordInfo(r.getSchema)
      val viaJob = Try(AvroBridge.fromDF(
        AvroBridge.toDF(spark, r.getSchema, Seq(r)).sql(q), name, ns, doc)._2.head)
      withClue(s"$q on $r: ") {
        (viaProjector, viaJob) match {
          case (Success(p), Success(j)) =>
            p.toString shouldBe j.toString
            p.getSchema shouldBe j.getSchema
            shape(p) shouldBe shape(j)
            true
          case (Failure(p), Failure(j)) if mayFail =>
            condition(p) shouldBe condition(j)
            false
          case (p, j) =>
            fail(s"projector: $p, DataFrame: $j", p.failed.toOption.orElse(j.failed.toOption).orNull)
        }
      }
    }
    withClue(s"$q: ")(passed should be > 0)
  }

  /** A value with the class of every part: records field by field,
    * collections and maps in iteration order, leaves as class and text.
    * The DataFrame path's encoder makes `String`s, never `Utf8`, so equal
    * shapes also pin that.
    */
  private def shape(v: Any): Any = v match {
    case null => null
    case r: IndexedRecord => (r.getClass.getName,
      r.getSchema.getFields.asScala.toList.map(f => f.name -> shape(r.get(f.pos))))
    case m: java.util.Map[_, _] => (m.getClass.getName,
      m.asScala.toList.map { case (k, x) => (shape(k), shape(x)) })
    case c: java.util.Collection[_] => (c.getClass.getName, c.asScala.toList.map(shape))
    case b: ByteBuffer =>
      val d = b.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a)
      ("ByteBuffer", a.toList)
    case x => (x.getClass.getName, x.toString)
  }

  /** The error condition of a Spark error anywhere in the cause chain,
    * else the class of the outermost throwable.
    */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.getClass.getName)

  private def withConf[T](key: String, value: String)(f: => T): T =
    try { spark.conf.set(key, value); f } finally spark.conf.unset(key)

  /** Records written as Avro binary and read back by `GenericDatumReader`:
    * strings and map keys come back as `Utf8`, arrays as
    * `GenericData.Array`.
    */
  private def viaBinary(schema: Schema, records: Seq[GenericRecord]): Seq[GenericRecord] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    records.foreach(writer.write(_, enc))
    enc.flush()
    val dec = DecoderFactory.get().binaryDecoder(out.toByteArray, null)
    val reader = new GenericDatumReader[GenericRecord](schema)
    records.map(_ => reader.read(null, dec))
  }

  // every logical type and named type the codec converts, nullable and
  // not, at the top level and inside a nested record
  private val colorSchema = Schema.createEnum("Color", null, "lt",
    java.util.Arrays.asList("RED", "GREEN", "BLUE"))
  private val hashSchema = Schema.createFixed("Hash", null, "lt", 4)
  private val decFixedSchema = LogicalTypes.decimal(12, 3)
    .addToSchema(Schema.createFixed("Dec", null, "lt", 8))
  private val decBytesSchema = LogicalTypes.decimal(9, 2)
    .addToSchema(Schema.create(Schema.Type.BYTES))
  private val logicalInner = SchemaBuilder.record("Inner").namespace("lt").fields()
    .name("color").`type`(colorSchema).noDefault()
    .name("dec_fixed").`type`(decFixedSchema).noDefault()
    .name("day").`type`(LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))).noDefault()
    .endRecord()
  private val logicalSchema = SchemaBuilder.record("Logical").namespace("lt").fields()
    .requiredLong("id")
    .name("dec_bytes").`type`(decBytesSchema).noDefault()
    .name("dec_fixed").`type`(decFixedSchema).noDefault()
    .name("day").`type`(LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))).noDefault()
    .name("ts_ms").`type`(LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
    .name("ts_us").`type`(LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
    .name("color").`type`(colorSchema).noDefault()
    .name("maybe_color").`type`().optional().`type`(colorSchema)
    .name("hash").`type`(hashSchema).noDefault()
    .name("blob").`type`().bytesType().noDefault()
    .name("inner").`type`(logicalInner).noDefault()
    .name("hashes").`type`().array().items(hashSchema).noDefault()
    .endRecord()

  private def logical(i: Int): GenericRecord = {
    def dec(unscaled: Long, size: Int) = {
      val raw = java.math.BigInteger.valueOf(unscaled).toByteArray
      val out = Array.fill[Byte](size)(if (unscaled < 0) -1 else 0)
      System.arraycopy(raw, 0, out, size - raw.length, raw.length)
      out
    }
    def fixedDec(v: Long) = new GenericData.Fixed(decFixedSchema, dec(v, 8))
    def hash(k: Int) = new GenericData.Fixed(hashSchema, Array[Byte](k.toByte, 1, 2, 3))
    val color = new GenericData.EnumSymbol(colorSchema, Seq("RED", "GREEN", "BLUE")(i % 3))
    val in = new GenericData.Record(logicalInner)
    in.put("color", color); in.put("dec_fixed", fixedDec(-12345L * i)); in.put("day", 19000 + i)
    val r = new GenericData.Record(logicalSchema)
    r.put("id", i.toLong)
    r.put("dec_bytes", ByteBuffer.wrap(java.math.BigInteger.valueOf(1000L * i - 7).toByteArray))
    r.put("dec_fixed", fixedDec(987654321L + i))
    r.put("day", 18000 + i)
    r.put("ts_ms", 1700000000123L + i)
    r.put("ts_us", 1700000000123456L - i)
    r.put("color", color)
    r.put("maybe_color", if (i % 2 == 0) null else color)
    r.put("hash", hash(i))
    r.put("blob", ByteBuffer.wrap(Array.tabulate[Byte](i % 4)(_.toByte)))
    r.put("inner", in)
    r.put("hashes", new GenericData.Array[GenericData.Fixed](
      logicalSchema.getField("hashes").schema(), (0 until i % 3).map(hash).asJava))
    r
  }

  "AvroProjector" should {
    "agree with a one-row DataFrame through the bridge" in {
      agreeWithSql("SELECT name, address.street.name as streetName, age",
        personSchema, (0 until 20).map(mk))
      val v1 = (0 until 6).map(order(orderV1, _))
      val v2 = (0 until 6).map(order(orderV2, _))
      Seq(
        // flatten with aliases
        "SELECT id AS order_id, customer.name AS cname, customer.address.city AS city, note AS memo FROM t",
        "SELECT customer.address.*, id, customer.tier AS tier FROM t",
        // withstructure over a whole struct
        "SELECT customer, note FROM t withstructure",
        // array-of-record subfields
        "SELECT id, items.sku, items.price FROM t withstructure",
        "SELECT id, customer.name, customer.address.city, items.sku, tags FROM t withstructure",
        // a map
        "SELECT id, tags FROM t withstructure",
        // a nullable-union parent
        "SELECT id, ship.city AS port, ship.zip FROM t",
        "SELECT *"
      ).foreach(q => agreeWithSql(q, orderV1, v1))
      // a v2-drifted record (reordered, one field added) through the v1 plan
      Seq(
        "SELECT id AS order_id, customer.name AS cname, customer.address.city AS city, note AS memo FROM t",
        "SELECT customer, items.qty, items.price, note FROM t withstructure",
        "SELECT id, tags, ship.city FROM t withstructure"
      ).foreach(q => agreeWithSql(q, orderV1, v1.zip(v2).flatMap(p => Seq(p._1, p._2))))
      // arrays of records: a null array, an empty array and a null
      // element; an array of arrays of records; renames and an
      // element-level star; a nullable record inside an element; a map of
      // records
      val baskets = (0 until 12).map(basket)
      Seq(
        "SELECT id, lines.qty, lines.price FROM t withstructure",
        "SELECT id, lines.price FROM t withstructure",
        "SELECT lines.price AS p, lines.*, lines.sku AS code FROM t withstructure",
        "SELECT lines.sku, lines.detail.color FROM t withstructure",
        "SELECT lines.detail.size AS sz, lines.detail.*, id FROM t withstructure",
        "SELECT grid.b FROM t withstructure",
        "SELECT grid.b AS bee, grid.*, id FROM t withstructure",
        "SELECT id, byName.n1.qty, byName.n1.detail.color FROM t withstructure",
        "SELECT byName.*, lines.qty FROM t withstructure"
      ).foreach(q => agreeWithSql(q, basketSchema, baskets))
      // a record with no fields: nothing to read, nothing to prune
      val empty = SchemaBuilder.record("Empty").namespace("ord").fields().endRecord()
      agreeWithSql("SELECT *", empty, Seq(new GenericData.Record(empty)))
    }

    "agree on map key picks, renames, collisions and flattened map values" in {
      val v1 = (0 until 9).map(order(orderV1, _))
      val picks = Seq(
        "SELECT id, tags.t0 FROM t withstructure",
        "SELECT id, tags.t0 AS x, tags.t1 FROM t withstructure",
        "SELECT tags.*, id FROM t withstructure",
        // flatten through a map value, the key present or missing
        "SELECT id, tags.t1 AS t FROM t",
        "SELECT tags.t2 AS t, tags.t0 FROM t")
      picks.foreach(q => agreeWithSql(q, orderV1, v1))
      val baskets = (0 until 6).map(basket)
      Seq(
        "SELECT id, byName.n1 AS one FROM t withstructure",
        "SELECT id, byName.n0.sku AS sku, byName.n1.detail.color AS color FROM t")
        .foreach(q => agreeWithSql(q, basketSchema, baskets))
      // a rename onto a kept key: the session's map-key policy decides,
      // and records holding both keys fail under EXCEPTION
      val collide = "SELECT id, tags.t0 AS t1, tags.t1 FROM t withstructure"
      withConf("spark.sql.mapKeyDedupPolicy", "LAST_WIN")(agreeWithSql(collide, orderV1, v1))
      withConf("spark.sql.mapKeyDedupPolicy", "EXCEPTION")(
        agreeWithSql(collide, orderV1, v1, mayFail = true))
      val thrown = withConf("spark.sql.mapKeyDedupPolicy", "EXCEPTION")(
        Try(new AvroProjector(spark, orderV1, collide)(order(orderV1, 2))))
      thrown.isFailure shouldBe true
    }

    "agree on logical types, enums, fixed and bytes" in {
      val recs = (0 until 6).map(logical)
      Seq(
        "SELECT *",
        "SELECT id, dec_bytes AS d, dec_fixed, day, ts_ms, ts_us FROM t",
        "SELECT color, maybe_color, hash, blob, inner.color AS ic, inner.dec_fixed AS idf FROM t",
        "SELECT inner.*, id FROM t",
        "SELECT id, inner, hashes FROM t withstructure",
        "SELECT inner.day, inner.color AS c, color FROM t withstructure"
      ).foreach(q => agreeWithSql(q, logicalSchema, recs))
      val out = new AvroProjector(spark, logicalSchema, "SELECT color, hash, blob, dec_fixed FROM t")(recs(1))
      out.get("color") shouldBe a[GenericData.EnumSymbol]
      out.get("hash") shouldBe a[GenericData.Fixed]
      out.get("blob") shouldBe a[ByteBuffer]
      out.get("dec_fixed") shouldBe a[ByteBuffer]
    }

    "agree on records read back from Avro binary" in {
      val v1 = viaBinary(orderV1, (0 until 9).map(order(orderV1, _)))
      v1(2).get("note") shouldBe a[Utf8]
      v1(2).get("tags").asInstanceOf[java.util.Map[_, _]].keySet.asScala.head shouldBe a[Utf8]
      Seq(
        "SELECT id, customer.name AS cname, customer.address.city AS city, note FROM t",
        "SELECT customer, items.qty, items.price, note FROM t withstructure",
        "SELECT id, tags FROM t withstructure",
        "SELECT id, tags.t1 FROM t withstructure",
        "SELECT id, tags.t0 AS x, tags.t1 FROM t withstructure",
        "SELECT id, tags.t1 AS t FROM t",
        "SELECT id, v.string, v.long FROM t",
        "SELECT *"
      ).foreach(q => agreeWithSql(q, orderV1, v1))
      // a map key matches by its string form, not by `Utf8` equality
      new AvroProjector(spark, orderV1, "SELECT tags.t1 AS t FROM t")(v1(2)).get("t") shouldBe 21L
      val baskets = viaBinary(basketSchema, (0 until 8).map(basket))
      Seq(
        "SELECT id, lines.qty, lines.detail.color FROM t withstructure",
        "SELECT grid.b AS bee, grid.*, id FROM t withstructure",
        "SELECT id, byName.n1.qty, byName.n1.detail.color FROM t withstructure"
      ).foreach(q => agreeWithSql(q, basketSchema, baskets))
      agreeWithSql("SELECT *", logicalSchema, viaBinary(logicalSchema, (0 until 4).map(logical)))
    }

    "decode only the columns and nested fields the query reads" in {
      import org.apache.spark.sql.types.{ArrayType, StructType}
      def paths(st: StructType, prefix: String = ""): Seq[String] =
        st.fields.toSeq.flatMap { f =>
          f.dataType match {
            case s: StructType => paths(s, s"$prefix${f.name}.")
            case ArrayType(s: StructType, _) => paths(s, s"$prefix${f.name}.")
            case _ => Seq(prefix + f.name)
          }
        }
      def readPaths(q: String, schema: Schema = orderV1) =
        new AvroProjector(spark, schema, q).readPaths
      readPaths("SELECT id, customer.name FROM t") shouldBe Seq("id", "customer.name")
      readPaths("SELECT customer.address.*, note FROM t") shouldBe
        Seq("customer.address.city", "customer.address.zip", "note")
      readPaths("SELECT v.long FROM t") shouldBe Seq("v.long")
      readPaths("SELECT id, tags FROM t withstructure") shouldBe Seq("id", "tags")
      // withstructure inside array elements reads only the kept fields
      readPaths("SELECT customer, items.qty, items.price, note FROM t withstructure") shouldBe
        Seq("customer.name", "customer.tier", "customer.address.city",
          "customer.address.zip", "note", "items.qty", "items.price")
      readPaths("SELECT id, items.sku AS code FROM t withstructure") shouldBe
        Seq("id", "items.sku")
      // a nullable element is marked by a kept non-nullable field; with
      // none kept, the element is read whole so a null element stays null
      readPaths("SELECT lines.qty, lines.detail.color FROM t withstructure",
        basketSchema) shouldBe Seq("lines.qty", "lines.detail.color")
      readPaths("SELECT lines.price FROM t withstructure", basketSchema) shouldBe
        Seq("lines.sku", "lines.qty", "lines.price", "lines.detail.color",
          "lines.detail.size")
      readPaths("SELECT *") shouldBe paths(AvroSchemaConverter.toStruct(orderV1))
    }

    "project a record whose writer schema lacks a field the query never reads" in {
      // v3 has no `tags`: the plan must not demand it
      val recs = (0 until 6).flatMap(i => Seq(order(orderV1, i), order(orderV3, i)))
      agreeWithSql("SELECT id, customer.name AS cname, items.sku FROM t withstructure",
        orderV1, recs)
      agreeWithSql("SELECT id, customer.address.zip AS zip, ship.city AS port FROM t",
        orderV1, recs)
    }

    "read one branch of a multi-branch union without its tag" in {
      val recs = (0 until 6).map(order(orderV1, _))
      agreeWithSql("SELECT v.long FROM t", orderV1, recs)
      agreeWithSql("SELECT id, v.string FROM t", orderV1, recs)
      agreeWithSql("SELECT id, v.tag, v.long FROM t", orderV1, recs)
      val proj = new AvroProjector(spark, orderV1, "SELECT id, v.long FROM t")
      proj(order(orderV1, 3)).get("long") shouldBe 30L
      proj(order(orderV1, 4)).get("long") shouldBe (null: Any)
    }

    "handle withstructure and nullable parents" in {
      val proj = new AvroProjector(spark, personSchema,
        "SELECT name, address.street2.name as s2")
      val out = proj(mk(1))
      out.get("s2") shouldBe null
      out.getSchema.getField("s2").schema().getType shouldBe
        org.apache.avro.Schema.Type.UNION
      val ws = new AvroProjector(spark, personSchema,
        "SELECT address.city FROM t withstructure")
      ws(mk(3)).get("address").asInstanceOf[GenericData.Record]
        .get("city").toString shouldBe "City 3"
    }

    "null in, null out" in {
      val proj = new AvroProjector(spark, personSchema, "SELECT name")
      proj(null) shouldBe null
    }

    "beat per-record job dispatch by orders of magnitude (plan once)" in {
      val q = "SELECT name, address.street.name as streetName, age"
      val proj = new AvroProjector(spark, personSchema, q)
      val recs = (0 until 5000).map(mk)
      proj(recs.head) // warm the JIT
      val t0 = System.nanoTime()
      var i = 0
      while (i < recs.length) { proj(recs(i)); i += 1 }
      val perRecordMicros = (System.nanoTime() - t0) / 1e3 / recs.length
      info(f"compiled projector: $perRecordMicros%.1f us/record")
      // a one-row Spark job costs ~10-100 ms; the projector must be far
      // under a millisecond per record
      perRecordMicros should be < 1000.0
    }
  }
}
