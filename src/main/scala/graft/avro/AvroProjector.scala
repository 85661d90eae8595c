package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.internal.SQLConf

import graft.sql.{GraftSql, SelectParser, SelectQuery}

/** Compiled per-record projection — the engine on the reference's own
  * per-message turf (a Kafka Connect SMT transforms one record at a time,
  * reference AvroSql.scala:44).
  *
  * Catalyst PLANS, the projector EXECUTES. A projector plans once: the
  * query is resolved by Catalyst against the record schema (the plan
  * `df.sql(query)` builds: same planner, same expressions), and the
  * analyzed project list is compiled into an [[AvroMovePlan]], a tree of
  * moves over Avro values. Each `apply` then builds the output record
  * straight from the input record's values, with no job, no scheduler,
  * no Catalyst row and no codegen: it reads only the fields the plan
  * names, moves strings, numbers and nested values by reference, and
  * rebuilds records, arrays and maps in the output schema. The reference
  * re-derives schema + projection for EVERY record (AvroSql.scala:74-82);
  * `record.sql(...)` ([[AvroSql]]) answers each call from a per-thread
  * cache of these projectors instead.
  */
final class AvroProjector(spark: SparkSession, inSchema: Schema, query: SelectQuery) {

  /** Parse `query` and plan it; errors throw `IllegalArgumentException`. */
  def this(spark: SparkSession, inSchema: Schema, query: String) =
    this(spark, inSchema, SelectParser.parse(query))

  private val struct = AvroSchemaConverter.toStruct(inSchema)

  // Resolve the planned Columns with Catalyst against an empty relation —
  // analysis only, nothing is executed.
  private val analyzed = {
    import GraftSql.implicits._
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), struct)
    empty.sql(query).queryExecution.analyzed
  }

  /** Output schema as Spark sees it. */
  val outputStruct: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(analyzed.output.map(a =>
      org.apache.spark.sql.types.StructField(
        a.name, a.dataType, a.nullable, a.metadata)))

  /** Derived output Avro schema (record identity preserved, O15). */
  val outputAvroSchema: Schema = {
    val (name, ns, doc) = AvroSchemaConverter.recordInfo(inSchema)
    AvroSchemaConverter.toAvro(outputStruct, name, ns, doc)
  }

  // The analyzed plan for a projection is Project(list, LocalRelation);
  // identity (SELECT *) analyzes to the bare relation.
  private val plan = new AvroMovePlan(
    analyzed match {
      case p: Project => p.projectList
      case other => other.output
    },
    outputAvroSchema,
    lastWin = GraftSqlBridge.sqlConf(spark).getConf(SQLConf.MAP_KEY_DEDUP_POLICY).toString ==
      SQLConf.MapKeyDedupPolicy.LAST_WIN.toString)

  // The move bound to the last-seen writer schema. Fields resolve by NAME
  // per writer schema, so a record whose schema reorders, adds or drops
  // unread fields (schema drift on the topic) binds the plan to that
  // schema; a stream that alternates two writer schemas re-binds at every
  // switch (one name lookup and one closure per node of the plan).
  private var moveSchema: Schema = inSchema
  private var move: IndexedRecord => GenericRecord = plan.bind(inSchema)

  /** The input fields the plan reads, as dotted leaf paths in schema order. */
  private[avro] lazy val readPaths: Seq[String] = plan.readPaths(inSchema, struct)

  /** Project one record. Thread-confined (`apply` re-binds the last-seen
    * writer schema in place); create one projector per thread for
    * parallel use.
    */
  def apply(record: IndexedRecord): GenericRecord = {
    if (record == null) return null
    val rs = record.getSchema
    if (rs ne moveSchema) {
      // an equal schema in a new instance is adopted, so the records
      // after it take the reference check instead of a deep equals
      if (rs != moveSchema) move = plan.bind(rs)
      moveSchema = rs
    }
    move(record)
  }
}
