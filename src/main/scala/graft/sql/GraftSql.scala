package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Public API of the projection engine — the Spark-native generalisation of
  * the reference's `record.sql("SELECT …")` surface (README.md:8-13,
  * AvroSql.scala:43-65): the same record-shaping query, applied to every row
  * of a DataFrame (batch or streaming — projections are stateless).
  *
  * Two modes, exactly as the reference:
  *  - flatten (default): nested paths become flat output columns
  *  - `withstructure` (trailing keyword): nesting retained; fields are
  *    cherry-picked / renamed / reordered in place
  *
  * Planning happens once per query against the DataFrame schema (the
  * reference replans per record — AvroSql.scala:74-82); execution is a single
  * narrow `select` that Catalyst prunes/pushes down and Tungsten codegens.
  */
object GraftSql {

  /** Plan a parsed query against a schema. Errors (unknown field, illegal
    * flatten of array/map, duplicate selection) throw
    * IllegalArgumentException, matching the reference's contract.
    */
  def plan(q: SelectQuery, schema: StructType): FlattenPlanner.Projection = {
    val cq = canonicalize(q, schema)
    if (cq.withStructure) StructurePlanner.plan(cq, schema)
    else FlattenPlanner.plan(cq, schema)
  }

  /** Rewrite every field path to the schema's exact casing — identifier
    * matching is case-insensitive, as in the reference's Calcite config
    * (`setCaseSensitive(false)`, AvroSql.scala:46-52). Aliases keep the
    * user's casing; MAP navigation segments are KEYS (data, not schema)
    * and are never case-folded. Unknown segments throw here with the
    * planner's error contract.
    */
  private def canonicalize(q: SelectQuery, schema: StructType): SelectQuery = {
    def canon(path: Seq[String]): Seq[String] = {
      var dt: DataType = schema
      path.map { seg =>
        // a segment after an ARRAY field addresses the element type
        while (dt.isInstanceOf[ArrayType])
          dt = dt.asInstanceOf[ArrayType].elementType
        dt match {
          case st: StructType =>
            val f = st.fields.find(_.name == seg)
              .orElse(st.fields.find(_.name.equalsIgnoreCase(seg)))
              .getOrElse(throw new IllegalArgumentException(
                s"Invalid field selection: '${path.mkString(".")}' — '$seg' " +
                  s"not found in struct<${st.fieldNames.mkString(",")}>"))
            dt = f.dataType
            f.name
          case MapType(_, v, _) => dt = v; seg
          case other =>
            throw new IllegalArgumentException(
              s"Invalid field selection: '${path.mkString(".")}' — cannot " +
                s"descend into ${other.simpleString} at '$seg'")
        }
      }
    }
    q.copy(fields = q.fields.map { f =>
      if (f.isStar) f.copy(parents = canon(f.parents))
      else {
        val p = canon(f.parents :+ f.name)
        f.copy(name = p.last, parents = p.init)
      }
    })
  }

  object implicits {
    implicit class DataFrameSqlOps(val df: DataFrame) {
      /** `df.sql("SELECT a.b as x, * [FROM t] [withstructure]")` */
      def sql(query: String): DataFrame = sql(SelectParser.parse(query))

      /** A parsed query (EP3: the caller already holds the fields). */
      def sql(q: SelectQuery): DataFrame =
        plan(q, df.schema) match {
          case FlattenPlanner.Identity => df
          case FlattenPlanner.Columns(cols) => df.select(cols: _*)
        }
    }
  }
}
