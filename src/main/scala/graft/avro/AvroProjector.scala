package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, NamedExpression, ProjectionOverSchema, SafeProjection, SchemaPruning}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

import graft.sql.{GraftSql, SelectParser, SelectQuery}

/** Compiled per-record projection — the engine on the reference's own
  * per-message turf (a Kafka Connect SMT transforms one record at a time,
  * reference AvroSql.scala:44).
  *
  * A projector PLANS ONCE: the query is resolved by Catalyst against the
  * record schema, the columns the resolved project list references are
  * pruned to the nested fields it reads (Catalyst's own `SchemaPruning`,
  * as a file scan prunes its `requiredSchema`), and the project list,
  * rebound to that read struct, is compiled to a `SafeProjection` (Janino
  * codegen with an interpreted fallback). Each `apply` is then
  * row-in/row-out with no job, no scheduler, no RDD: decode of the
  * referenced columns only, one generated function call into a reused row
  * of plain JVM values, and an encode that reads those values directly.
  * The reference re-derives schema + projection for EVERY record
  * (AvroSql.scala:74-82); `record.sql(...)` ([[AvroSql]]) answers each
  * call from a per-thread cache of these projectors instead. The plan is
  * the one `df.sql(query)` builds (same planner, same expressions).
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
  private val (projectList, childOutput) = analyzed match {
    case p: Project => (p.projectList, p.child.output)
    case other => (other.output, other.output)
  }

  /** The columns the project list references, each pruned to the nested
    * fields it reads. `pruneSchema` keeps unreferenced top-level columns
    * whole, so those are dropped here: the decoder never converts them.
    */
  private[avro] val readStruct: StructType = {
    val roots = SchemaPruning.identifyRootFields(projectList, Nil)
    if (roots.isEmpty) new StructType()
    else {
      val named = roots.map(_.field.name).toSet
      StructType(SchemaPruning.pruneSchema(struct, roots).fields
        .filter(f => named.contains(f.name)))
    }
  }

  // The project list rebound to the read struct: same exprIds, pruned
  // types, struct-field ordinals renumbered.
  private val readInput = {
    val byName = readStruct.fields.map(f => f.name -> f).toMap
    childOutput.flatMap(a => byName.get(a.name).map(f => a.withDataType(f.dataType)))
  }
  private val projection = {
    val overRead = ProjectionOverSchema(readStruct, AttributeSet(childOutput))
    SafeProjection.create(
      projectList.map(_.transformDown { case overRead(e) => e }
        .asInstanceOf[NamedExpression]),
      readInput)
  }

  // fused codecs: record → InternalRow of the read struct →
  // (SafeProjection) → record, with no external Row or ExpressionEncoder
  // on either side. The decoder resolves fields by NAME per writer
  // schema, so a record whose schema reorders, adds or drops unread
  // fields (schema drift on the topic) re-plans against that schema. Only
  // the last-seen schema is cached: a stream that alternates two writer
  // schemas re-plans at every switch (a plan is one name lookup and one
  // converter per read field).
  private var decodeSchema: Schema = inSchema
  private var decode: IndexedRecord => InternalRow =
    AvroInternalCodec.decoderFor(inSchema, readStruct)
  private val encode = AvroInternalCodec.encoderFor(outputStruct, outputAvroSchema)

  /** Project one record. Thread-confined (the compiled projection reuses
    * its output buffer); create one projector per thread for parallel use.
    */
  def apply(record: IndexedRecord): GenericRecord = {
    if (record == null) return null
    val rs = record.getSchema
    if (rs ne decodeSchema) {
      // an equal schema in a new instance is adopted, so the records
      // after it take the reference check instead of a deep equals
      if (rs != decodeSchema) decode = AvroInternalCodec.decoderFor(rs, readStruct)
      decodeSchema = rs
    }
    val internal: InternalRow = decode(record)
    encode(projection(internal))
  }
}
