package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** The per-file statistics sidecars of a graft-avro table, behind one
  * owner: each family's file name and line shape, one line reader, one
  * commit fold, and the publish/clone/rollback file operations.
  *
  * Every family shares one format: UTF-8 lines `rel TAB f1 … fN`, where
  * `rel` is the data file's path relative to the table root and the
  * fields are URL-encoded (so tabs and newlines cannot occur). A commit
  * rewrites the whole file: lines sorted by `rel`, joined by `\n`, no
  * trailing newline. A line is valid when it splits into exactly `rel`
  * plus the family's arity (empty fields count, trailing ones too: an
  * empty string encodes to an empty field) and its numeric fields
  * parse as `Long`; readers skip every other line. Every family is
  * pruning or planner statistics only, so a missing entry, a skipped
  * line or an unreadable file is always sound (the file scans, the
  * estimate is withheld).
  *
  * Lifecycle: every commit folds [[Folded]] (fresh entries replace
  * their file's prior lines, files no longer alive drop). Publish
  * appends a branch's lines verbatim, clone copies all five files,
  * rollback drops all five.
  */
private[graft] object StatsManifests {

  /** One sidecar family: `arity` fields after `rel`, `longFields`
    * (indexes into the split line) that must parse as `Long`,
    * `onePerFile` keeping only the last valid line of a file, the
    * fresh entries a commit message carries for it, and the `stats`
    * metadata-table kind of a line with a given type tag (field 2;
    * families without one ignore it).
    */
  final class Family private[StatsManifests] (name: String,
      arity: Int, longFields: Seq[Int],
      private[StatsManifests] val onePerFile: Boolean,
      private[StatsManifests] val entries:
        AvroCommitMessage => Seq[(String, Seq[Any])],
      val kindOf: String => String) {
    def in(d: File): File = new File(d, name)
    private[StatsManifests] def valid(l: Line): Boolean =
      l.fields.length == arity + 1 && longFields.forall { i =>
        try { java.lang.Long.parseLong(l(i)); true }
        catch { case _: NumberFormatException => false }
      }
  }

  /** `rel TAB colEnc TAB typeTag TAB slot1 TAB slot2`: per-file min/max
    * of every primitive leaf (type tag = the leaf's `simpleString`),
    * null-count cells (`cnt:` tag) and SUM/COUNT cells (`sum:` tag),
    * written on every batch commit. The recorded type guards schema
    * evolution: a retyped column's old entries stop applying.
    */
  val ColZones = new Family("_graft_zones_cols", 4, Nil, onePerFile = false,
    _.colZones,
    tag =>
      if (tag.startsWith("cnt:")) "null_cells"
      else if (tag.startsWith("sum:")) "sum_cells"
      else "zones")

  /** `rel TAB colEnc TAB typeTag TAB base64(bits)`: equality blooms
    * (`bloomFor`) and trigram blooms (`trigramFor`, tag
    * [[AvroFileSource.TrigramTypeTag]]).
    */
  val Blooms = new Family("_graft_blooms", 3, Nil, onePerFile = false,
    _.blooms,
    tag => if (tag == AvroFileSource.TrigramTypeTag) "trigram" else "bloom")

  /** `rel TAB nrows`: exact per-file row counts of every staged commit. */
  val Rows = new Family("_graft_rows", 1, Seq(1), onePerFile = true,
    _.rows.map { case (fin, n) => fin -> Seq(n) },
    _ => "rows")

  /** `rel TAB colEnc TAB typeTag TAB base64(registers)`: the opt-in
    * (`ndvFor`) HLL sketches.
    */
  val Ndv = new Family("_graft_ndv", 3, Nil, onePerFile = false,
    _.ndvs, _ => "ndv")

  /** `rel TAB colEnc TAB typeTag TAB start TAB end TAB a TAB b`: the
    * block-range index of a sorted staged write, one line per (column,
    * chunk) with the chunk's byte range. Zone lines carry the chunk's
    * min/max (`-` = all-null); `bloom:`- and trigram-tagged lines carry
    * a membership cell in `a` (`b` = `-`).
    */
  val BlockIdx = new Family("_graft_blockidx", 6, Seq(3, 4),
    onePerFile = false, _.blockIdx,
    tag =>
      if (tag.startsWith("bloom:")) "chunk_bloom"
      else if (tag.startsWith("trigram:")) "chunk_trigram"
      else "block_index")

  /** Every family: each commit folds them, publish appends them, clone
    * copies and rollback drops them.
    */
  val Folded: Seq[Family] = Seq(ColZones, Blooms, Rows, Ndv, BlockIdx)

  /** One line: its text and its split fields (`rel` first). */
  final class Line private[StatsManifests] (val text: String) {
    private[StatsManifests] val fields = text.split("\t", -1)
    def rel: String = fields(0)
    def apply(i: Int): String = fields(i)
  }

  /** Stream the valid lines of `f`, a sidecar of `fam`, into `consume`.
    * A missing file streams nothing. A file that cannot be read (I/O
    * error, invalid UTF-8, or a line `consume` fails on) logs one
    * stderr line and reads as empty: `consume` runs again on no lines,
    * so nothing built from the partial read survives.
    */
  def read[A](fam: Family, f: File)(consume: Iterator[Line] => A): A =
    if (!f.isFile) consume(Iterator.empty)
    else try {
      val in = Files.newBufferedReader(f.toPath, UTF_8)
      try consume(Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(new Line(_)).filter(fam.valid))
      finally in.close()
    } catch {
      case e: Exception =>
        System.err.println(s"graft-avro: stats sidecar $f unreadable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — read as empty")
        consume(Iterator.empty)
    }

  /** The valid lines of `f` by `rel`, in file order; only the last one
    * per file where the family keeps one.
    */
  def byRel(fam: Family, f: File): Map[String, Seq[Line]] =
    read(fam, f) { lines =>
      if (fam.onePerFile) lines.map(l => l.rel -> Seq(l)).toMap
      else lines.toVector.groupBy(_.rel)
    }

  /** Fold `messages`' fresh entries for `fam` into its sidecar in `d`:
    * valid prior lines stay verbatim, a fresh entry replaces every prior
    * line of its file, files outside `alive` drop, lines sort by `rel`,
    * and the file is replaced through a `.staging` rename. A fold of
    * [[ColZones]] carries the [[ZoneIndex]] entry of the file it read
    * over to the file it wrote.
    */
  def fold(fam: Family, d: File, messages: Seq[AvroCommitMessage],
      alive: Set[String]): Unit = {
    import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}
    val f = fam.in(d)
    val read0 = if (fam eq ColZones) FileIdentity.of(f) else None
    val byRel = read(fam, f) { lines =>
      val m = HashMap.empty[String, ArrayBuffer[String]]
      lines.foreach { l =>
        if (fam.onePerFile) m(l.rel) = ArrayBuffer(l.text)
        else m.getOrElseUpdate(l.rel, ArrayBuffer.empty) += l.text
      }
      m
    }
    val read1 = if (fam eq ColZones) FileIdentity.of(f) else None
    // files whose prior lines leave: replaced by a fresh entry, or dead
    val removed = HashMap.empty[String, ArrayBuffer[String]]
    val fresh = HashSet.empty[String]
    val base = d.getAbsoluteFile.toPath
    messages.flatMap(fam.entries).foreach { case (fin, es) =>
      val rel = base.relativize(new File(fin).getAbsoluteFile.toPath).toString
      val lines = es.iterator.map {
        case p: Product => p.productIterator.mkString(rel + "\t", "\t", "")
        case v => s"$rel\t$v"
      }.to(ArrayBuffer)
      val prior = byRel.put(rel, lines)
      if (fresh.add(rel)) prior.foreach(removed(rel) = _)
    }
    byRel.keysIterator.filterNot(alive).foreach(rel =>
      if (!fresh(rel)) removed(rel) = byRel(rel))
    val out = new java.lang.StringBuilder
    byRel.keysIterator.filter(alive).toArray.sorted.foreach { rel =>
      byRel(rel).foreach { line =>
        if (out.length > 0) out.append('\n')
        out.append(line)
      }
    }
    val written = replace(f, out.toString, "commit")
    for (r <- read0 if read1.contains(r); w <- written)
      ZoneIndex.carry(f.getAbsoluteFile, r, w, removed.keys ++ fresh,
        removed.valuesIterator.flatten.map(new Line(_)).toSeq,
        fresh.iterator.filter(alive).toArray.sorted.iterator
          .flatMap(byRel(_)).map(new Line(_)).filter(fam.valid).toSeq)
  }

  /** Whether a commit of `messages` folds `fam` in `d`: it carries
    * fresh entries or the sidecar already exists.
    */
  def folds(fam: Family, d: File, messages: Seq[AvroCommitMessage]): Boolean =
    messages.exists(fam.entries(_).nonEmpty) || fam.in(d).isFile

  /** Publish: append each sidecar of the branch directory `from`
    * verbatim after `to`'s (rels are table-relative, so they carry over).
    */
  def append(from: File, to: File): Unit = Folded.foreach { fam =>
    val src = fam.in(from)
    val dst = fam.in(to)
    if (src.isFile) {
      val add = new String(Files.readAllBytes(src.toPath), UTF_8)
      if (add.nonEmpty) {
        val existing =
          if (dst.isFile) new String(Files.readAllBytes(dst.toPath), UTF_8)
          else ""
        replace(dst,
          if (existing.isEmpty || existing.endsWith("\n")) existing + add
          else existing + "\n" + add,
          "publish")
      }
    }
  }

  /** Clone: copy every sidecar of `from` byte for byte into `to`. */
  def copy(from: File, to: File): Unit = Folded.foreach { fam =>
    val src = fam.in(from)
    if (src.isFile) Files.copy(src.toPath, fam.in(to).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Rollback: drop every sidecar of `d` (absence ⇒ scan). */
  def drop(d: File): Unit = Folded.foreach(fam => fam.in(d).delete())

  /** Replace `f` by `content` through a `.staging` rename; the
    * identity of the file written (a rename keeps it).
    */
  private def replace(f: File, content: String, op: String)
      : Option[FileIdentity] = {
    val tmp = new File(f.getPath + ".staging")
    Files.write(tmp.toPath, content.getBytes(UTF_8))
    val written = FileIdentity.of(tmp)
    if (!tmp.renameTo(f)) throw new java.io.IOException(
      s"graft-avro $op: rename failed $tmp -> $f")
    written
  }
}
