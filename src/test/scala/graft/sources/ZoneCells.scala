package graft.sources

import java.io.File

/** Test view of a table's `_graft_zones_cols` coverage of one column. */
object ZoneCells {

  /** Whether every live file of `dir` carries a valued (not all-null)
    * min/max cell for `col` — what pruning and metadata MIN/MAX on the
    * column read.
    */
  def coverAll(dir: String, col: String): Boolean = {
    val d = new File(dir)
    val base = d.getAbsoluteFile.toPath
    val raw = AvroFileSource.readColZonesRaw(AvroFileSource.colZoneFile(d))
    val live = AvroFileSource.listAvro(d)
    live.nonEmpty && live.forall { f =>
      raw.getOrElse(base.relativize(f.getAbsoluteFile.toPath).toString, Nil)
        .exists { case (c, tag, mn, _) =>
          c == col && !tag.contains(":") && mn != "__null__"
        }
    }
  }
}
