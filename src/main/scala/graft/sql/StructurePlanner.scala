package graft.sql

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

import graft.functions.{ElementNarrow, ElementProjection, MapNarrow}
import FlattenPlanner.{Projection, Identity, Columns, quotePath}

/** Structure-preserving ("withstructure") projection compiler
  * (reference operators O8-O11, SURVEY.md §2.2).
  *
  * Recursive record rebuild: at each nesting level, apply that level's
  * selections (cherry-pick / rename / reorder); levels with no selection at
  * or below them copy the whole subtree as-is; recursion descends through
  * STRUCT, ARRAY (per element) and MAP (per value / key cherry-pick) —
  * reference value walk at AvroSql.scala:187-305, schema walk at
  * AvroSchemaSql.scala:244-317.
  *
  * Structs compile to `CreateNamedStruct` over field extractions. An
  * array with a selection at or below it compiles to one
  * [[graft.functions.ElementProjection]] (no lambda): its children are the
  * `GetArrayStructFields` chains of the element fields it keeps, so it
  * stays in whole-stage codegen and nested column pruning reads only
  * those fields. A map with a selection compiles to one
  * [[graft.functions.MapNarrow]] over the whole map (no lambda either):
  * the same [[graft.functions.ElementNarrow.Keys]] that narrows a map
  * inside an array element. No plan holds a higher-order function.
  *
  * Level semantics pinned by AvroSqlWithRetainStructureTest.scala:
  *  - output fields appear in first-mention select-list order; a deeper
  *    selection (`ingredients.name`) pins its top segment at the position of
  *    its first mention (tests at :249-290)
  *  - `*` at a level expands the remaining (unmentioned) fields at the
  *    star's position, in schema order (tests at :83-128, 204-246)
  *  - a level with no selections below it is copied unchanged
  *  - explicit selection copies the whole subtree (`ingredients as stuff`,
  *    test :99) unless deeper selections refine it
  *
  * MAP semantics follow the documented intent of the reference's `fromMap`
  * (AvroSql.scala:246-278): explicitly selected names at a map's level are
  * KEY cherry-picks with rename (`m + (name -> alias)`); `*` keeps all keys;
  * a deeper path keeps that key and projects inside its value. (The
  * reference's own implementation of the explicit-key branch is unreachable
  * due to a filter bug at AvroSql.scala:262 and is untested — we implement
  * the intended semantics.)
  */
object StructurePlanner {

  def plan(q: SelectQuery, schema: StructType): Projection = {
    if (q.fields.lengthCompare(1) == 0 && q.fields.head.isStar &&
        !q.fields.head.hasParents) return Identity

    // Validate every explicit path resolves (arrays/maps are transparent).
    q.fields.filterNot(_.isStar).foreach(f => resolveThrough(schema, f.path))
    q.fields.filter(f => f.isStar && f.hasParents)
      .foreach(f => resolveThrough(schema, f.parents) match {
        case _: StructType | _: MapType => // map star = keep all keys (O11)
        case other => throw new IllegalArgumentException(
          s"'${f.parents.mkString(".")}.*' requires a struct or map, found " +
            other.simpleString)
      })

    val entries = q.entriesAt(Nil)
    if (entries.isEmpty)
      throw new IllegalArgumentException("empty selection")
    Columns(levelColumns(schema, Nil, n => F.col(quotePath(Seq(n))), q))
  }

  /** One output field of a struct level: its output name, and the source
    * field with its ordinal in the level's struct.
    */
  private final case class Out(name: String, src: StructField, ordinal: Int)

  /** Output fields of one struct level, in first-mention order. */
  private def levelFields(st: StructType, path: Seq[String],
      q: SelectQuery): Seq[Out] = {
    val entries = q.entriesAt(path)
    val explicitNames =
      entries.collect { case Left(f) if !f.isStar => f.name }.toSet
    val traversed = entries.collect { case Right(s) => s }.toSet
    def find(name: String): Out = {
      val i = st.fieldNames.indexOf(name)
      if (i < 0) throw new IllegalArgumentException(
        s"'${(path :+ name).mkString(".")}' can't be found in " +
          s"struct<${st.fieldNames.mkString(",")}>")
      Out(name, st.fields(i), i)
    }

    entries.flatMap {
      case Left(f) if f.isStar =>
        st.fields.toSeq.zipWithIndex
          .filterNot { case (x, _) => explicitNames(x.name) || traversed(x.name) }
          .map { case (x, i) => Out(x.name, x, i) }
      case Left(f) => Seq(find(f.name).copy(name = f.alias))
      case Right(seg) => Seq(find(seg))
    }
  }

  /** Columns for one struct level, in first-mention order. */
  private def levelColumns(
      st: StructType,
      path: Seq[String],
      get: String => Column,
      q: SelectQuery): Seq[Column] =
    levelFields(st, path, q).map { o =>
      rebuild(o.src.dataType, o.src.nullable, get(o.src.name),
        path :+ o.src.name, q).alias(o.name)
    }

  /** Rebuild a value of type `dt` located at `path`, applying any selections
    * at or below that path; returns `ref` unchanged when there are none.
    */
  private def rebuild(
      dt: DataType,
      nullable: Boolean,
      ref: Column,
      path: Seq[String],
      q: SelectQuery): Column = dt match {

    case st: StructType =>
      if (q.entriesAt(path).isEmpty && !hasSelectionBelow(q, path)) ref
      else {
        val built = F.struct(levelColumns(st, path, n => ref.getField(n), q): _*)
        if (nullable) F.when(ref.isNotNull, built) else built
      }

    case at: ArrayType =>
      if (!hasSelectionAtOrBelow(q, path)) ref
      else elements(at, ref, path, q)

    case _: MapType =>
      narrowOf(dt, nullable, nullable, path, q) match {
        case (keys: ElementNarrow.Keys, t: MapType, _) =>
          GraftSqlBridge.column(MapNarrow(GraftSqlBridge.deferred(ref), keys, t))
        case _ => ref
      }

    case _ =>
      if (hasSelectionBelow(q, path))
        throw new IllegalArgumentException(
          s"cannot select below scalar field '${path.mkString(".")}'")
      ref
  }

  /** An array rebuilt element by element as one [[ElementProjection]].
    * Each kept leaf of an element is read through its own
    * `GetArrayStructFields` chain (`ref.getField(..)...`), so nested
    * column pruning keeps only the element fields the query reads. A
    * nullable level is marked by a kept non-nullable leaf of its own; a
    * nullable level without one, and any value that is not a struct (an
    * array of arrays, a map), is read whole at that level and narrowed by
    * field ordinals ([[ElementNarrow]]). Output types, nullability
    * included, are those of the per-element rebuild `rebuild` describes.
    */
  private def elements(at: ArrayType, ref: Column, path: Seq[String],
      q: SelectQuery): Column = {
    val children = scala.collection.mutable.ArrayBuffer.empty[Column]
    def child(c: Column): Int = { children += c; children.length - 1 }

    // `nullable` is the value's declared nullability, `inherited` that of
    // the reference it is read through (a field of a nullable parent)
    def part(dt: DataType, nullable: Boolean, inherited: Boolean, col: Column,
        path: Seq[String]): (ElementProjection.Part, DataType, Boolean) = {
      def whole = {
        val (narrow, t, n) = narrowOf(dt, nullable, inherited, path, q)
        (ElementProjection.Take(child(col), dt, narrow), t, n)
      }
      dt match {
        case st: StructType if hasSelectionAtOrBelow(q, path) =>
          val outs = levelFields(st, path, q)
          // a leaf read by a chain of its own: anything but a sub-level
          def isLeaf(o: Out) = o.src.dataType match {
            case _: StructType => !hasSelectionAtOrBelow(q, path :+ o.src.name)
            case _ => true
          }
          val marker = outs.indexWhere(o => !o.src.nullable && isLeaf(o))
          if (nullable && marker < 0) whole
          else {
            val parts = outs.map(o => part(o.src.dataType, o.src.nullable,
              inherited || o.src.nullable, col.getField(o.src.name),
              path :+ o.src.name))
            // a leaf's part is always a Take of its own chain
            val markerChild =
              if (!nullable) -1
              else parts(marker)._1.asInstanceOf[ElementProjection.Take].child
            (ElementProjection.Build(parts.map(_._1).toIndexedSeq, markerChild),
              StructType(outs.zip(parts).map { case (o, (_, t, n)) =>
                StructField(o.name, t, n) }),
              nullable)
          }
        case _ => whole
      }
    }

    val (element, et, en) =
      part(at.elementType, at.containsNull, at.containsNull, ref, path)
    GraftSqlBridge.column(ElementProjection(
      children.toSeq.map(GraftSqlBridge.deferred), element, ArrayType(et, en)))
  }

  /** Narrowing of a value read whole, with the output type and
    * nullability `rebuild` gives it: a struct selects by ordinal, an
    * array narrows per element, a map filters and renames keys and
    * narrows values.
    */
  private def narrowOf(dt: DataType, nullable: Boolean, inherited: Boolean,
      path: Seq[String], q: SelectQuery): (ElementNarrow, DataType, Boolean) =
    dt match {
      case st: StructType if hasSelectionAtOrBelow(q, path) =>
        val outs = levelFields(st, path, q)
        val subs = outs.map(o => narrowOf(o.src.dataType, o.src.nullable,
          inherited || o.src.nullable, path :+ o.src.name, q))
        (ElementNarrow.Pick(outs.map(_.ordinal).toIndexedSeq,
            outs.map(_.src.dataType).toIndexedSeq, subs.map(_._1).toIndexedSeq),
          StructType(outs.zip(subs).map { case (o, (_, t, n)) =>
            StructField(o.name, t, n) }),
          nullable)

      case ArrayType(et, containsNull) if hasSelectionAtOrBelow(q, path) =>
        val (sub, t, n) = narrowOf(et, containsNull, containsNull, path, q)
        (ElementNarrow.Each(et, sub), ArrayType(t, n), inherited)

      case MapType(kt, vt, vn) if q.entriesAt(path).nonEmpty =>
        val m = mapSelection(q, path)
        if (m.hasStar && m.keptKeys.isEmpty && m.valueQuery.isEmpty)
          (ElementNarrow.Keep, dt, inherited)
        else {
          if (m.renames.nonEmpty && kt != StringType)
            throw new IllegalArgumentException(
              s"cannot rename keys of '${path.mkString(".")}' " +
                s"(${dt.simpleString}): only string keys")
          val (sub, t, n) = m.valueQuery match {
            case Some(qv) => narrowOf(vt, vn, vn, path, qv)
            case None => (ElementNarrow.Keep, vt, vn)
          }
          (ElementNarrow.Keys(kt, vt, t, m.hasStar,
              m.keptKeys.map(_._1).toSet, m.renames.toMap, sub),
            MapType(kt, t, n), nullable || inherited)
        }

      case _: StructType | _: ArrayType | _: MapType =>
        (ElementNarrow.Keep, dt, inherited)

      case _ =>
        if (hasSelectionBelow(q, path))
          throw new IllegalArgumentException(
            s"cannot select below scalar field '${path.mkString(".")}'")
        (ElementNarrow.Keep, dt, inherited)
    }

  /** The selection at a map's level: explicitly selected names are KEY
    * cherry-picks with rename, `*` keeps every key, and a deeper path keeps
    * its key and projects inside the value. `valueQuery` is the union of
    * the deeper selections with the key segment stripped: a Spark map has
    * one value type, so per-key heterogeneous projection is untypeable and
    * every kept value is projected alike. None when no deeper path exists.
    */
  private final case class MapSelection(hasStar: Boolean,
      keptKeys: Seq[(String, String)], valueQuery: Option[SelectQuery]) {
    def renames: Seq[(String, String)] = keptKeys.filter { case (n, a) => n != a }
  }

  private def mapSelection(q: SelectQuery, path: Seq[String]): MapSelection = {
    val entries = q.entriesAt(path)
    val lefts = entries.collect { case Left(f) => f }
    val valueFields = q.fields.collect {
      case f if f.parents.startsWith(path) &&
        f.parents.lengthCompare(path.length) > 0 =>
        f.copy(parents = path ++ f.parents.drop(path.length + 1))
    }
    MapSelection(
      lefts.exists(_.isStar),
      lefts.filterNot(_.isStar).map(f => f.name -> f.alias) ++
        entries.collect { case Right(seg) => seg -> seg },
      if (valueFields.isEmpty) None else Some(q.copy(fields = valueFields)))
  }

  private def hasSelectionBelow(q: SelectQuery, path: Seq[String]): Boolean =
    q.fields.exists(f =>
      f.parents.startsWith(path) && f.parents.lengthCompare(path.length) > 0)

  private def hasSelectionAtOrBelow(q: SelectQuery, path: Seq[String]): Boolean =
    q.fields.exists(f => f.parents.startsWith(path))

  /** Resolve a path where ARRAY elements and MAP values are transparent
    * (structure mode descends through them per element / per value).
    */
  def resolveThrough(schema: StructType, path: Seq[String]): DataType = {
    def unwrap(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => unwrap(et)
      case other => other
    }
    var dt: DataType = schema
    path.foreach { seg =>
      dt = unwrap(dt) match {
        case st: StructType =>
          st.fields.find(_.name == seg).getOrElse(
            throw new IllegalArgumentException(
              s"Invalid field selection: '${path.mkString(".")}' — '$seg' " +
                s"not found in struct<${st.fieldNames.mkString(",")}>")
          ).dataType
        case MapType(_, v, _) => v // seg addresses a map key; value type next
        case other =>
          throw new IllegalArgumentException(
            s"Invalid field selection: '${path.mkString(".")}' — cannot " +
              s"descend into ${other.simpleString} at '$seg'")
      }
    }
    unwrap(dt)
  }
}
