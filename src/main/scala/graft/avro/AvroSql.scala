package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.internal.SQLConf

import graft.sql.{Field, SelectParser, SelectQuery}

/** A bare primitive value + its schema — the engine's analogue of the
  * reference's `NonRecordContainer` input kind (AvroSql.scala:70; the
  * Confluent class itself is a Kafka-serializer type not present here).
  */
final case class AvroPrimitive(value: Any, schema: Schema)

/** The reference's public surface, re-expressed on the Spark engine
  * (reference: `record.sql("SELECT …")`, AvroSql.scala:43-65, README.md:8-13).
  *
  * Every call is answered by a compiled [[AvroProjector]] for its key: the
  * session, the record's writer schema (compared by equality, so an equal
  * schema in a new instance still hits) and the query — the string, or for
  * EP3 the field list plus the mode. The first call for a key plans it
  * (Avro schema → `StructType` → GraftSql projection, resolved by
  * Catalyst → Avro move plan → derived output Avro schema with
  * names/docs/props restored from `avro.*` metadata, O15); every later call
  * costs one hash lookup and one `apply`. The reference re-derives schema
  * and projection per record (AvroSql.scala:74-82).
  *
  * Projectors live in a per-thread LRU of [[CacheSize]] entries, because a
  * projector re-binds its move plan in place when the writer schema
  * drifts (`apply` is thread-confined). A failed plan is not cached. The
  * session confs a plan reads and whose value can change its answer are
  * part of the key: `spark.sql.caseSensitive` (analysis resolves names
  * with it) and `spark.sql.mapKeyDedupPolicy` (the move plan fixes it
  * when it is built). Entries are built under the session's own conf, so
  * the value in the key is the value the plan runs with; `apply` reads
  * no conf. Contract parity:
  *  - `null` input → `null` output (AvroSql.scala:68)
  *  - primitive containers accept only `SELECT *` (AvroSql.scala:106-131)
  *  - all planning errors are `IllegalArgumentException`s
  *
  * For a DataFrame of records, [[AvroBridge.toDF]] → `df.sql(query)` →
  * [[AvroBridge.fromDF]] runs one plan over every record as a Spark job.
  */
object AvroSql {

  object implicits {
    implicit class AvroRecordSqlOps(val record: IndexedRecord) {
      def sql(query: String)(implicit spark: SparkSession): GenericRecord =
        AvroSql.sql(record, query)
      /** EP3 parity (reference AvroSql.scala:86-103): pre-parsed fields —
        * the host-integration path where the caller already parsed KCQL.
        */
      def sql(fields: Seq[Field], flatten: Boolean)(implicit spark: SparkSession): GenericRecord =
        AvroSql.sql(record, fields, flatten)
    }
    implicit class AvroPrimitiveSqlOps(val p: AvroPrimitive) {
      def sql(query: String): AvroPrimitive = AvroSql.sqlPrimitive(p, query)
    }
  }

  def sql(record: IndexedRecord, query: String)(implicit spark: SparkSession): GenericRecord =
    run(record, query, new AvroProjector(spark, _, query))

  /** EP3: pre-parsed select-list fields + explicit mode. */
  def sql(record: IndexedRecord, fields: Seq[Field], flatten: Boolean)(
      implicit spark: SparkSession): GenericRecord = {
    val q = SelectQuery(fields, None, withStructure = !flatten)
    run(record, q, new AvroProjector(spark, _, q))
  }

  private def run(record: IndexedRecord, query: AnyRef, build: Schema => AvroProjector)(
      implicit spark: SparkSession): GenericRecord = {
    if (record == null) return null
    val inSchema = record.getSchema
    require(inSchema.getType == Schema.Type.RECORD,
      s"only RECORD containers are supported, got ${inSchema.getType}")
    projector(spark, GraftSqlBridge.sqlConf(spark), inSchema, query, build)(record)
  }

  /** Primitive container: only `SELECT *` is legal and is the identity
    * (AvroSql.scala:106-131); any named selection throws.
    */
  def sqlPrimitive(p: AvroPrimitive, query: String): AvroPrimitive = {
    if (p == null) return null
    val q = SelectParser.parse(query)
    val bare = q.fields match {
      case Seq(f) => f.isStar && !f.hasParents
      case _ => false
    }
    require(bare, s"only SELECT * is supported for primitive containers: $query")
    p
  }

  /** Derive the output Avro schema a query would produce for an input
    * schema — the reference's schema phase alone (AvroSchemaSql.scala) —
    * from the same cached projector the value phase uses.
    */
  def outputSchema(spark: SparkSession, inSchema: Schema, query: String): Schema =
    projector(spark, GraftSqlBridge.sqlConf(spark), inSchema, query,
      new AvroProjector(spark, _, query)).outputAvroSchema

  /** Entries per thread; past it the least recently used is dropped. */
  private[avro] val CacheSize = 64

  private final case class Key(spark: SparkSession, schema: Schema, query: AnyRef,
      caseSensitive: Boolean, mapKeyDedup: AnyRef)

  private final class Lru extends java.util.LinkedHashMap[Key, AvroProjector](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, AvroProjector]): Boolean =
      size > CacheSize
  }

  private val cache = ThreadLocal.withInitial[Lru](() => new Lru)

  private def key(spark: SparkSession, conf: SQLConf, schema: Schema, query: AnyRef): Key =
    Key(spark, schema, query, conf.caseSensitiveAnalysis,
      conf.getConf(SQLConf.MAP_KEY_DEDUP_POLICY))

  private def projector(spark: SparkSession, conf: SQLConf, schema: Schema, query: AnyRef,
      build: Schema => AvroProjector): AvroProjector = {
    val k = key(spark, conf, schema, query)
    val lru = cache.get
    val hit = lru.get(k)
    if (hit != null) hit
    else {
      val p = SQLConf.withExistingConf(conf)(build(schema))
      lru.put(k, p)
      p
    }
  }

  /** This thread's cached projector for a key, if any: `query` is the
    * string, or `SelectQuery(fields, None, !flatten)` for EP3.
    */
  private[avro] def cached(spark: SparkSession, schema: Schema, query: AnyRef): Option[AvroProjector] =
    Option(cache.get.get(key(spark, GraftSqlBridge.sqlConf(spark), schema, query)))

  /** Entries in this thread's cache. */
  private[avro] def cachedCount: Int = cache.get.size
}

/** Bulk Avro ⇄ DataFrame bridge — the Spark-first path: plan once, let
  * Catalyst execute over all records. Both directions use
  * [[AvroInternalCodec]], the one Avro ⇄ Catalyst value codec.
  */
object AvroBridge {

  /** Records → DataFrame (a local relation of internal rows) with
    * `avro.*` metadata. Fields resolve by name per record's writer schema.
    */
  def toDF(spark: SparkSession, schema: Schema, records: Seq[IndexedRecord]): DataFrame = {
    val struct = AvroSchemaConverter.toStruct(schema)
    val decoders = scala.collection.mutable.HashMap.empty[Schema, IndexedRecord => InternalRow]
    val rows = records.map { r =>
      decoders.getOrElseUpdate(r.getSchema,
        AvroInternalCodec.decoderFor(r.getSchema, struct))(r)
    }
    GraftSqlBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(struct), rows))
  }

  /** DataFrame → records under a derived Avro schema. Driver-side collect:
    * intended for bounded results (tests, per-message sinks) — large sinks
    * should keep writing with DataFrame writers instead.
    */
  def fromDF(df: DataFrame, name: String, namespace: Option[String] = None,
      doc: Option[String] = None): (Schema, Seq[GenericRecord]) = {
    val avro = AvroSchemaConverter.toAvro(df.schema, name, namespace, doc)
    val encode = AvroInternalCodec.encoderFor(df.schema, avro)
    // toRdd may hand out one reused row per partition: copy before collect
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    (avro, rows.toSeq.map(encode))
  }
}
