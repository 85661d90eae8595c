package graft.avro

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericRecord, IndexedRecord}
import org.apache.spark.sql.SparkSession
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.SparkSpec
import graft.sql.{Field, SelectQuery}

import scala.util.Try

/** `record.sql` answers every call from a per-thread cache of compiled
  * projectors keyed by (session, writer schema, query, plan confs).
  */
class AvroSqlCacheSpec extends AnyWordSpec with Matchers with SparkSpec {

  import AvroSql.implicits._
  implicit lazy val s: SparkSession = spark

  /** v2 reorders v1's fields and adds `channel`. */
  private def orderSchema(v2: Boolean): Schema = {
    var f = SchemaBuilder.record("Order").namespace("cache").fields()
    if (!v2) f = f.requiredLong("id")
    f = f.requiredString("name")
      .name("tags").`type`().map().values().intType().noDefault()
    if (v2) f = f.requiredString("channel").requiredLong("id")
    f.endRecord()
  }
  private val v1 = orderSchema(v2 = false)
  private val v2 = orderSchema(v2 = true)

  private def order(schema: Schema, i: Int): GenericRecord = {
    val o = new GenericData.Record(schema)
    o.put("id", i.toLong)
    o.put("name", s"n$i")
    val tags = new java.util.LinkedHashMap[String, Int]()
    tags.put("a", i); tags.put("b", i + 1)
    o.put("tags", tags)
    if (schema.getField("channel") != null) o.put("channel", "web")
    o
  }

  private val q = "SELECT id AS order_id, name FROM t"

  private def same(a: GenericRecord, b: GenericRecord): Unit = {
    a.toString shouldBe b.toString
    a.getSchema shouldBe b.getSchema
  }

  /** Run `f` on a fresh thread (a fresh, empty cache). */
  private def onFreshThread[T](f: => T): T = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new Callable[T] { def call(): T = f }).get(5, TimeUnit.MINUTES)
    finally pool.shutdown()
  }

  "record.sql" should {
    "reuse one projector per (session, schema, query), also for an equal schema instance" in {
      val r = order(v1, 1)
      r.sql(q)
      val first = AvroSql.cached(spark, v1, q)
      first shouldBe defined
      val n = AvroSql.cachedCount
      r.sql(q)
      AvroSql.cached(spark, v1, q).get should be theSameInstanceAs first.get
      val copy = new Schema.Parser().parse(v1.toString)
      (copy ne v1) shouldBe true
      same(order(copy, 2).sql(q), first.get(order(v1, 2)))
      AvroSql.cached(spark, copy, q).get should be theSameInstanceAs first.get
      AvroSql.cachedCount shouldBe n
    }

    "answer the schema phase from the same projector" in {
      val ws = "SELECT name, tags FROM t withstructure"
      val schema = AvroSql.outputSchema(spark, v1, ws)
      val p = AvroSql.cached(spark, v1, ws).get
      schema should be theSameInstanceAs p.outputAvroSchema
      val n = AvroSql.cachedCount
      order(v1, 3).sql(ws).getSchema should be theSameInstanceAs schema
      AvroSql.cachedCount shouldBe n
    }

    "keep one entry per writer schema when v1 and v2 alternate" in {
      val fresh = Map(v1 -> new AvroProjector(spark, v1, q),
        v2 -> new AvroProjector(spark, v2, q))
      (0 until 20).foreach { i =>
        val r = order(if (i % 2 == 0) v1 else v2, i)
        same(r.sql(q), fresh(r.getSchema)(r))
      }
      val (p1, p2) = (AvroSql.cached(spark, v1, q).get, AvroSql.cached(spark, v2, q).get)
      (p1 ne p2) shouldBe true
    }

    "give 4 threads x 500 calls the single-threaded answers" in {
      val recs = (0 until 50).map(i => order(if (i % 4 == 3) v2 else v1, i))
      val expected = onFreshThread(recs.map(_.sql(q).toString))
      val pool = Executors.newFixedThreadPool(4)
      try {
        val runs = (0 until 4).map { _ =>
          pool.submit(new Callable[Seq[String]] {
            def call(): Seq[String] = (0 until 500).map(i => recs(i % recs.length).sql(q).toString)
          })
        }
        runs.foreach { f =>
          f.get(5, TimeUnit.MINUTES) shouldBe (0 until 500).map(i => expected(i % recs.length))
        }
      } finally pool.shutdown()
    }

    "stay at its size bound and answer correctly past it" in {
      onFreshThread {
        val r = order(v1, 7)
        val extra = 10
        (0 until AvroSql.CacheSize + extra).foreach { i =>
          val out = r.sql(s"SELECT name AS n$i, id FROM t")
          out.get(s"n$i").toString shouldBe "n7"
          out.get("id") shouldBe 7L
          AvroSql.cachedCount shouldBe math.min(i + 1, AvroSql.CacheSize)
        }
        // least recently used first out
        AvroSql.cached(spark, v1, "SELECT name AS n0, id FROM t") shouldBe None
        AvroSql.cached(spark, v1, s"SELECT name AS n$extra, id FROM t") shouldBe defined
      }
    }

    "throw IllegalArgumentException for a planning error on every call and cache nothing" in {
      val r = order(v1, 1)
      val n = AvroSql.cachedCount
      (0 until 3).foreach { _ =>
        an[IllegalArgumentException] should be thrownBy r.sql("SELECT nope FROM t")
      }
      an[IllegalArgumentException] should be thrownBy
        AvroSql.outputSchema(spark, v1, "SELECT nope FROM t")
      AvroSql.cached(spark, v1, "SELECT nope FROM t") shouldBe None
      AvroSql.cachedCount shouldBe n
    }

    "return null for null without touching the cache, and reject a non-record container" in {
      val n = AvroSql.cachedCount
      AvroSql.sql(null, "SELECT never planned") shouldBe null
      AvroSql.cachedCount shouldBe n
      val prim = new IndexedRecord {
        def getSchema: Schema = Schema.create(Schema.Type.INT)
        def get(i: Int): AnyRef = Int.box(1)
        def put(i: Int, v: Any): Unit = ()
      }
      an[IllegalArgumentException] should be thrownBy prim.sql("SELECT *")
      AvroSql.cachedCount shouldBe n
    }

    "share one entry between EP3 calls with equal field lists" in {
      def fields = Seq(Field("id", "order_id", Nil), Field("name", "who", Nil))
      val r = order(v1, 4)
      val a = r.sql(fields, flatten = true)
      val p = AvroSql.cached(spark, v1, SelectQuery(fields, None, withStructure = false)).get
      val n = AvroSql.cachedCount
      same(r.sql(fields, flatten = true), a)
      AvroSql.cached(spark, v1, SelectQuery(fields, None, withStructure = false))
        .get should be theSameInstanceAs p
      AvroSql.cachedCount shouldBe n
      r.sql(fields, flatten = false)
      AvroSql.cachedCount shouldBe n + 1
    }

    "follow spark.sql.mapKeyDedupPolicy as an uncached projector does" in {
      // renaming key `a` to `b` next to a kept `b` makes a duplicate key
      val dup = "SELECT id, tags.a AS b, tags.b FROM t withstructure"
      val key = "spark.sql.mapKeyDedupPolicy"
      def answer(f: => GenericRecord): Either[String, String] =
        Try(f).toEither.left.map(_.getClass.getName).map(_.toString)
      val r = order(v1, 5)
      try {
        val seen = Seq("LAST_WIN", "EXCEPTION", "LAST_WIN").map { policy =>
          spark.conf.set(key, policy)
          val got = answer(r.sql(dup))
          got shouldBe answer(new AvroProjector(spark, v1, dup)(r))
          got
        }
        seen.head shouldBe a[Right[_, _]]
        seen(1) shouldBe a[Left[_, _]]
      } finally spark.conf.unset(key)
    }
  }
}
