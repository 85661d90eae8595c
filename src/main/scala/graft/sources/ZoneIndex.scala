package graft.sources

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types.{DataType, StructType}

/** Process-wide index over each table's `_graft_zones_cols`
  * ([[StatsManifests.ColZones]]): the typed per-column views scans ask
  * for, served from memory while the sidecar keeps its identity.
  *
  * An entry is keyed by the sidecar's absolute path and holds the
  * [[FileIdentity]] it describes. It keeps only views: the columns that
  * have cells (with their line counts), and per (column, read type) the
  * typed bounds or `cnt:` cells by absolute data-file path. Lines are
  * never retained. A view is built on first use from one read of the
  * sidecar and stored only when a stat after the read still shows the
  * entry's identity.
  *
  * A commit's fold ([[StatsManifests.fold]]) carries the entry of the
  * file it read forward to the file it wrote: cells of dead and
  * replaced data files drop, fresh cells are typed by [[typed]], and the
  * entry is re-keyed to the written file's identity. Every other writer
  * (publish, clone, rollback, a foreign process) changes the identity,
  * so the next reader parses again. Cleared wholesale past its bound,
  * like the journal caches.
  */
private[sources] object ZoneIndex {

  /** Indexed sidecars; past this the index restarts empty. */
  private val MaxTables = 64

  /** A cell kind: its type-tag prefix ([[AvroFileSource.cellTypeApplies]]). */
  sealed abstract class Kind(val tag: String)
  /** Zone bounds: (min, max) typed as the read type. */
  case object Bounds extends Kind("")
  /** `cnt:` cells: (non-null count, row total). */
  case object Nulls extends Kind("cnt:")

  private sealed trait View
  /** Decoded column name → valid lines naming it. */
  private case object Columns extends View
  /** Absolute data-file path → typed cell of `col` read as `dt`. */
  private final case class Cells(col: String, dt: DataType, kind: Kind)
      extends View

  /** The one cell-typing function, shared by the parse and the commit
    * carry-forward: a line's (type tag, slot 1, slot 2) under read type
    * `dt`, or None when the tag does not apply to `dt` or a value fails
    * to parse (the file then scans normally).
    */
  private[sources] def typed(kind: Kind, dt: DataType, tag: String,
      a: String, b: String): Option[Any] =
    if (!AvroFileSource.cellTypeApplies(tag, dt, kind.tag)) None
    else kind match {
      case Bounds => for {
        lo <- AvroFileSource.castPartitionValue(a, dt) if lo != null
        hi <- AvroFileSource.castPartitionValue(b, dt) if hi != null
      } yield (lo, hi)
      case Nulls =>
        def count(s: String) =
          if (s.nonEmpty && s.forall(c => c >= '0' && c <= '9')) s.toLongOption
          else None
        for { n <- count(a); t <- count(b) } yield (n, t)
    }

  /** Decoded column names of `lines`, decoding each distinct spelling once. */
  private final class Names {
    private val memo = scala.collection.mutable.HashMap.empty[String, String]
    def apply(l: StatsManifests.Line): String =
      memo.getOrElseUpdate(l(1), java.net.URLDecoder.decode(l(1), "UTF-8"))
  }

  private final class Entry(val zf: File, val base: File,
      val id: FileIdentity) {
    val views = new ConcurrentHashMap[View, AnyRef]()

    def abs(rel: String): String = new File(base, rel).getAbsolutePath

    def view(v: View): AnyRef = {
      val hit = views.get(v)
      if (hit != null) hit
      else {
        val built = StatsManifests.read(StatsManifests.ColZones, zf) { lines =>
          val name = new Names
          v match {
            case Columns => lines.foldLeft(Map.empty[String, Int]) { (m, l) =>
              val c = name(l)
              m.updated(c, m.getOrElse(c, 0) + 1)
            }
            case Cells(col, dt, kind) => lines.flatMap { l =>
              if (name(l) != col) None
              else typed(kind, dt, l(2), l(3), l(4)).map(abs(l.rel) -> _)
            }.toMap
          }
        }
        if (FileIdentity.of(zf).contains(id)) views.putIfAbsent(v, built)
        built
      }
    }

    /** This entry's views over the fold that wrote `written`: cells of
      * `removed` files drop, then `added` lines (in file order, the last
      * typed cell of a file winning, as in a parse) enter; `dropped` are
      * the prior lines of the removed files.
      */
    def carried(written: FileIdentity, removed: Iterable[String],
        dropped: Iterable[StatsManifests.Line],
        added: Seq[StatsManifests.Line]): Entry = {
      val next = new Entry(zf, base, written)
      val name = new Names
      views.forEach { (v, value) =>
        next.views.put(v, v match {
          case Columns =>
            val less = dropped.foldLeft(value.asInstanceOf[Map[String, Int]]) {
              (m, l) =>
                val c = name(l)
                m.getOrElse(c, 0) match {
                  case n if n > 1 => m.updated(c, n - 1)
                  case _ => m - c
                }
            }
            added.foldLeft(less) { (m, l) =>
              val c = name(l)
              m.updated(c, m.getOrElse(c, 0) + 1)
            }
          case Cells(col, dt, kind) =>
            val less = value.asInstanceOf[Map[String, Any]] -- removed.map(abs)
            added.foldLeft(less) { (m, l) =>
              if (name(l) != col) m
              else typed(kind, dt, l(2), l(3), l(4)).fold(m)(m.updated(abs(l.rel), _))
            }
        })
      }
      next
    }
  }

  private val entries = new ConcurrentHashMap[String, Entry]()

  /** One table's zone views as of the sidecar identity seen when it was
    * made, read under schema `full`: a scan's pushdown decisions, zone
    * and null-cell pruning all read one instance. Each column's read
    * type resolves once per instance.
    */
  final class Zones private[ZoneIndex] (entry: Option[Entry],
      full: StructType) {
    private val memo = scala.collection.mutable.HashMap.empty[(String, Kind),
      Map[String, Any]]

    private def cells(col: String, kind: Kind): Map[String, Any] =
      synchronized {
        memo.getOrElseUpdate((col, kind), (entry,
            AvroFilterEval.leafType(full, col)) match {
          case (Some(e), Some(dt)) =>
            e.view(Cells(col, dt, kind)).asInstanceOf[Map[String, Any]]
          case _ => Map.empty
        })
      }

    /** Columns of the read schema with at least one cell. */
    def columns: Iterable[String] = entry.toSeq.flatMap { e =>
      e.view(Columns).asInstanceOf[Map[String, Int]].keys
        .filter(AvroFilterEval.leafType(full, _).isDefined)
    }

    /** Zone bounds of `col`: ABSOLUTE file path → (min, max). Cells
      * whose recorded type does not apply to the read type, or whose
      * values fail to parse, drop: their files scan normally.
      */
    def boundsOf(col: String): Map[String, (Any, Any)] =
      cells(col, Bounds).asInstanceOf[Map[String, (Any, Any)]]

    /** `cnt:` cells of `col`: ABSOLUTE file path → (non-null count, row
      * total), under the same type-tag rule as the bounds.
      */
    def nullCellsOf(col: String): Map[String, (Long, Long)] =
      cells(col, Nulls).asInstanceOf[Map[String, (Long, Long)]]
  }

  /** The zone views of table `dir` (empty when it has no sidecar): one
    * stat, plus a sidecar read per view the index does not yet hold.
    */
  def of(dir: File, full: StructType): Zones = {
    val zf = StatsManifests.ColZones.in(dir).getAbsoluteFile
    val key = zf.getPath
    new Zones(FileIdentity.of(zf).map { id =>
      val hit = entries.get(key)
      if (hit != null && hit.id == id) hit
      else {
        val fresh = new Entry(zf, dir.getAbsoluteFile, id)
        if (entries.size >= MaxTables) entries.clear()
        entries.put(key, fresh)
        fresh
      }
    }, full)
  }

  /** The zone views of `dir` parsed afresh, bypassing the index. */
  private[sources] def parsed(dir: File, full: StructType): Zones = {
    val zf = StatsManifests.ColZones.in(dir).getAbsoluteFile
    new Zones(FileIdentity.of(zf).map(new Entry(zf, dir.getAbsoluteFile, _)),
      full)
  }

  /** Views the index holds for `dir`'s sidecar as it is now (0 when it
    * holds no entry for the sidecar's current identity).
    */
  private[sources] def heldViews(dir: File): Int = {
    val zf = StatsManifests.ColZones.in(dir).getAbsoluteFile
    Option(entries.get(zf.getPath))
      .filter(e => FileIdentity.of(zf).contains(e.id))
      .fold(0)(_.views.size)
  }

  /** Carry the entry of sidecar `zf` over a fold that read identity
    * `read` and wrote `written`. No entry for `read` means nothing to
    * carry: the next reader parses the written file.
    */
  private[sources] def carry(zf: File, read: FileIdentity,
      written: FileIdentity, removed: Iterable[String],
      dropped: Iterable[StatsManifests.Line],
      added: Seq[StatsManifests.Line]): Unit = {
    val key = zf.getAbsolutePath
    val prior = entries.get(key)
    if (prior != null && prior.id == read)
      entries.replace(key, prior, prior.carried(written, removed, dropped, added))
  }
}
