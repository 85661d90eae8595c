package graftbench

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericRecord, IndexedRecord}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project

import scala.jdk.CollectionConverters._

import graft.avro.{AvroInternalCodec, AvroProjector, AvroRowCodec, AvroSchemaConverter, AvroSql}
import graft.sql.{GraftSql, SelectParser}

/** Generated nested order records: a nested record, a nullable union, an
  * array of records and a map. Version 2 of the writer schema reorders the
  * top-level fields and adds one, so the projector's decoder re-plans when
  * a batch drifts.
  */
object Orders {
  private val address = SchemaBuilder.record("Address").namespace("bench").fields()
    .requiredString("city").requiredString("zip").endRecord()
  private val customer = SchemaBuilder.record("Customer").namespace("bench").fields()
    .requiredString("name").requiredInt("tier")
    .name("address").`type`(address).noDefault().endRecord()
  private val item = SchemaBuilder.record("Item").namespace("bench").fields()
    .requiredString("sku").requiredInt("qty").requiredDouble("price").endRecord()
  private def order(v2: Boolean): Schema = {
    val f = SchemaBuilder.record("Order").namespace("bench").fields()
    def id(b: SchemaBuilder.FieldAssembler[Schema]) = b.requiredLong("id")
    def rest(b: SchemaBuilder.FieldAssembler[Schema]) = b
      .name("customer").`type`(customer).noDefault()
      .optionalString("note")
      .name("items").`type`().array().items(item).noDefault()
      .name("tags").`type`().map().values().longType().noDefault()
    if (v2) rest(f).requiredString("channel").requiredLong("id").endRecord()
    else id(rest(f)).endRecord()
  }
  val v1: Schema = order(v2 = false)
  val v2: Schema = order(v2 = true)

  def make(schema: Schema, r: Rng, id: Long): GenericRecord = {
    val ad = new GenericData.Record(address)
    ad.put("city", s"city${r.int(50)}")
    ad.put("zip", f"${r.int(100000)}%05d")
    val cu = new GenericData.Record(customer)
    cu.put("name", s"cust${r.int(5000)}")
    cu.put("tier", r.int(4))
    cu.put("address", ad)
    val items = (0 until 1 + r.int(4)).map { _ =>
      val it: GenericRecord = new GenericData.Record(item)
      it.put("sku", s"sku${r.int(900)}")
      it.put("qty", 1 + r.int(9))
      it.put("price", r.int(100000) / 100.0)
      it
    }
    val tags = new java.util.HashMap[String, java.lang.Long]()
    (0 until r.int(3)).foreach(i => tags.put(s"t$i", r.int(1000).toLong))
    val o = new GenericData.Record(schema)
    o.put("id", id)
    o.put("customer", cu)
    o.put("note", if (r.int(3) == 0) null else s"note${r.int(100)}")
    o.put("items", new GenericData.Array[GenericRecord](
      schema.getField("items").schema(), items.asJava))
    o.put("tags", tags)
    if (schema eq v2) o.put("channel", "web")
    o
  }

  /** A value with Avro's representation choices removed (Utf8 vs String,
    * field order, map class), for comparing records field by field.
    */
  def norm(v: Any): Any = v match {
    case null => null
    case cs: CharSequence => cs.toString
    case r: IndexedRecord =>
      r.getSchema.getFields.asScala.map(f => f.name -> norm(r.get(f.pos))).toMap
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> norm(x) }.toMap
    case c: java.util.Collection[_] => c.asScala.map(norm).toVector
    case x => x
  }

  /** Value at a dotted path of a [[norm]]ed record; a segment after an
    * array addresses every element.
    */
  def at(v: Any, path: String): Any = path.split('.').foldLeft(v)(field)

  private def field(x: Any, name: String): Any = x match {
    case null => null
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].getOrElse(name, "<missing>")
    case xs: Vector[_] => xs.map(field(_, name))
    case _ => "<not a record>"
  }
}

/** The paper's per-record projection kernel: nested records through the
  * flatten and withstructure deck. Never touches disk or `graft.sources`.
  *
  * Step mix (fixed shares of every 20 steps): 18 batches of 1000 records
  * through `AvroProjector.apply`, one rebuild of the deck's projectors,
  * one record through the deck by `record.sql(query)`. Every op of a kind
  * runs the whole deck, so ops of a kind do the same work. Each op is
  * followed by its reference (`<kind>_ref`): the same work done by Avro's
  * or Spark's own code, with no engine code inside its timing.
  */
final class RecordMorph(spark: SparkSession, rec: Recorder, seed: Long,
    traceRun: Boolean) extends Workload {
  implicit private val session: SparkSession = spark
  import RecordMorph._

  private val BatchSize = 1000
  private val PoolSize = 8000
  private val WarmupPlanCalls = 40

  private var v1Pool: Array[GenericRecord] = _
  private var v2Pool: Array[GenericRecord] = _
  private var projectors: Array[AvroProjector] = _
  private val rng = new Rng(seed * 31 + 7)

  // a set-up is ~0.1 s: many reps, so the median is steady
  override def setupReps: Int = 21

  def setup(): Unit = {
    val r = new Rng(seed)
    v1Pool = Array.tabulate(PoolSize)(i => Orders.make(Orders.v1, r, i))
    v2Pool = Array.tabulate(PoolSize / 4)(i => Orders.make(Orders.v2, r, PoolSize + i))
    projectors = Deck.map(q => new AvroProjector(spark, Orders.v1, q.sql))
    rec.info("record_pool") = PoolSize + PoolSize / 4
    rec.info("schema_versions") = 2
    rec.info("queries") = Deck.length
  }

  private val out = new Array[GenericRecord](BatchSize)
  private val copies = new Array[GenericRecord](BatchSize)
  private val Slice = BatchSize / Deck.length
  // the schedule is fixed; the seed only changes the records
  private var step, batches, plans, calls = 0L

  // plans and record.sql calls are 1 step in 20: after 12 s of mixed
  // steps they still sped up ~2x over the timed phase. A fixed count of
  // them after the mixed steps warms their JIT the same on any host.
  def warmup(): Unit = {
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 4e9) runStep()
    (1 to WarmupPlanCalls).foreach { _ => plan(); sqlCall() }
  }

  // the last set-up's fresh pools and projectors made the first ~2 s of
  // the timed phase ~30% slower than the rest
  override def settle(): Unit = {
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 2e9) runStep()
  }

  def timed(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) {
      rec.tracing = traceRun && step / 20 % 2 == 0
      runStep()
    }
    rec.tracing = false
  }

  def finish(): Unit = ()

  private def runStep(): Unit = {
    val slot = (step % 20).toInt
    step += 1
    if (slot == 7) rec.step("plan")(plan())
    else if (slot == 17) rec.step("sql_call")(sqlCall())
    else rec.step("batch")(batch())
  }

  private def pool(v2: Boolean) = if (v2) v2Pool else v1Pool

  /** Start of a random `n`-record slice of a pool. */
  private def sliceStart(p: Array[GenericRecord], n: Int): Int = rng.int(p.length / n) * n

  /** One batch is the deck applied to a 1000-record batch: a 200-record
    * slice per query. One slice, rotating over the queries, comes from the
    * v2 pool, so every batch re-plans a decoder for drift and back.
    */
  private def batch(): Unit = {
    val v2 = (batches % Deck.length).toInt
    batches += 1
    val slices = Array.tabulate(Deck.length) { qi =>
      val p = pool(qi == v2)
      (p, sliceStart(p, Slice))
    }
    val a0 = if (rec.tracing) rec.allocatedBytes() else 0L
    rec.op("batch") {
      var qi = 0
      while (qi < Deck.length) {
        val proj = projectors(qi)
        val (p, from) = slices(qi)
        var i = 0
        while (i < Slice) { out(qi * Slice + i) = proj(p(from + i)); i += 1 }
        qi += 1
      }
      true
    }
    if (rec.tracing) {
      rec.attr("alloc_bytes", (rec.allocatedBytes() - a0).toDouble)
      rec.attr("records", BatchSize)
      traceCodec(slices)
    }
    val qi = rng.int(Deck.length)
    val j = rng.int(Slice)
    val (p, from) = slices(qi)
    rec.check("morph.matches_generator", Deck(qi).matches(p(from + j), out(qi * Slice + j)))
    rec.op("batch_ref") {
      var qi = 0
      while (qi < Deck.length) {
        val (p, from) = slices(qi)
        val schema = p(0).getSchema
        var i = 0
        while (i < Slice) { copies(qi * Slice + i) = GenericData.get().deepCopy(schema, p(from + i)); i += 1 }
        qi += 1
      }
      true
    }
    rec.check("batch_ref.copies", copies(qi * Slice + j) == p(from + j))
  }

  /** The codec halves of `apply`, timed on the same batch outside the op. */
  private def traceCodec(slices: Array[(Array[GenericRecord], Int)]): Unit = {
    val struct = AvroSchemaConverter.toStruct(Orders.v1)
    val decoders = slices.map { case (p, _) => AvroInternalCodec.decoderFor(p(0).getSchema, struct) }
    rec.span("avro.decode") {
      var qi = 0
      while (qi < Deck.length) {
        val (p, from) = slices(qi)
        var i = 0
        while (i < Slice) { decoders(qi)(p(from + i)); i += 1 }
        qi += 1
      }
    }
    val rows = Deck.indices.map { qi =>
      val pr = projectors(qi)
      val back = AvroInternalCodec.decoderFor(pr.outputAvroSchema, pr.outputStruct)
      (AvroInternalCodec.encoderFor(pr.outputStruct, pr.outputAvroSchema),
        Array.tabulate(Slice)(i => back(out(qi * Slice + i))))
    }
    rec.span("avro.encode") {
      rows.foreach { case (encode, rs) =>
        var i = 0
        while (i < rs.length) { encode(rs(i)); i += 1 }
      }
    }
  }

  /** A new writer schema arrives: build the deck's projectors for it
    * (v1 and v2 take turns).
    */
  private def plan(): Unit = {
    val schema = if (plans % 2 == 0) Orders.v1 else Orders.v2
    plans += 1
    var built: Array[AvroProjector] = null
    rec.op("plan") { built = Deck.map(q => new AvroProjector(spark, schema, q.sql)); true }
    if (rec.tracing) {
      rec.attr("projectors", Deck.length)
      val (n, ns, doc) = AvroSchemaConverter.recordInfo(schema)
      Deck.indices.foreach { qi =>
        val parsed = rec.span("sql.parse")(SelectParser.parse(Deck(qi).sql))
        val struct = rec.span("avro.schema_convert")(AvroSchemaConverter.toStruct(schema))
        rec.span("sql.plan")(GraftSql.plan(parsed, struct))
        rec.span("avro.schema_convert")(
          AvroSchemaConverter.toAvro(built(qi).outputStruct, n, ns, doc))
      }
    }
    val p = pool(schema eq Orders.v2)
    val r = p(rng.int(p.length))
    Deck.indices.foreach(qi => rec.check("plan.matches_generator", Deck(qi).matches(r, built(qi)(r))))
    val struct = AvroSchemaConverter.toStruct(schema)
    var widths: Array[Int] = null
    rec.op("plan_ref") {
      widths = Deck.map { q =>
        val analyzed = spark.createDataFrame(java.util.Collections.emptyList[Row](), struct)
          .selectExpr(q.plain: _*).queryExecution.analyzed
        val Project(list, child) = analyzed
        UnsafeProjection.create(list, child.output)
        list.length
      }
      true
    }
    rec.check("plan_ref.widths", widths.sameElements(Deck.map(_.plain.length)))
  }

  /** One record through the deck by the reference-compatible `record.sql`
    * (a one-row Spark job per query); every fourth record is v2.
    */
  private def sqlCall(): Unit = {
    val p = pool(calls % 4 == 3)
    calls += 1
    val r = p(rng.int(p.length))
    var got: Array[GenericRecord] = null
    rec.op("sql_call") { got = Deck.map(q => AvroSql.sql(r, q.sql)); true }
    rec.attr("calls", Deck.length)
    Deck.indices.foreach { qi =>
      rec.check("sql_call.equals_projector",
        Orders.norm(got(qi)) == Orders.norm(projectors(qi)(r)))
      rec.check("sql_call.matches_generator", Deck(qi).matches(r, got(qi)))
    }
    val struct = AvroSchemaConverter.toStruct(r.getSchema)
    val row = java.util.Arrays.asList(AvroRowCodec.toRow(r, struct))
    var rows: Array[Row] = null
    rec.op("sql_call_ref") {
      rows = Deck.map(q => spark.createDataFrame(row, struct).selectExpr(q.plain: _*).head())
      true
    }
    rec.check("sql_call_ref.id", rows(0).getLong(0) == r.get("id"))
  }
}

object RecordMorph {
  /** A deck query with the (output path, input path) pairs its output
    * must carry over from the generated record, and the same columns as
    * Spark SQL expressions for the references.
    */
  final case class Query(sql: String, pairs: Seq[(String, String)], plain: Seq[String]) {
    def matches(in: IndexedRecord, out: IndexedRecord): Boolean = {
      val (i, o) = (Orders.norm(in), Orders.norm(out))
      out != null && pairs.forall { case (op, ip) => Orders.at(o, op) == Orders.at(i, ip) }
    }
  }

  val Deck: Array[Query] = Array(
    Query("SELECT id, customer.name AS cname, customer.address.city AS city, note FROM orders",
      Seq("id" -> "id", "cname" -> "customer.name", "city" -> "customer.address.city",
        "note" -> "note"),
      Seq("id", "customer.name AS cname", "customer.address.city AS city", "note")),
    Query("SELECT customer.address.*, id, customer.tier AS tier FROM orders",
      Seq("city" -> "customer.address.city", "zip" -> "customer.address.zip",
        "id" -> "id", "tier" -> "customer.tier"),
      Seq("customer.address.city", "customer.address.zip", "id", "customer.tier AS tier")),
    Query("SELECT id AS order_id, customer.tier AS tier, note AS memo, customer.address.zip AS zip FROM orders",
      Seq("order_id" -> "id", "tier" -> "customer.tier", "memo" -> "note",
        "zip" -> "customer.address.zip"),
      Seq("id AS order_id", "customer.tier AS tier", "note AS memo", "customer.address.zip AS zip")),
    Query("SELECT id, customer.name, customer.address.city, items.sku, tags FROM orders withstructure",
      Seq("id" -> "id", "customer.name" -> "customer.name",
        "customer.address.city" -> "customer.address.city",
        "items.sku" -> "items.sku", "tags" -> "tags"),
      Seq("id", "customer.name", "customer.address.city", "items.sku", "tags")),
    Query("SELECT customer, items.qty, items.price, note FROM orders withstructure",
      Seq("customer" -> "customer", "items.qty" -> "items.qty",
        "items.price" -> "items.price", "note" -> "note"),
      Seq("customer", "items.qty", "items.price", "note")))
}

/** Deterministic generator (SplitMix64): the same seed gives the same inputs. */
final class Rng(seed: Long) {
  private var s = seed
  def long(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def int(bound: Int): Int = java.lang.Math.floorMod(long(), bound.toLong).toInt
}
