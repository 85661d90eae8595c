package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance operations for graft-avro directory tables — the
  * DELETE / OPTIMIZE pair every merge-on-read format needs at 100 TB:
  *
  *  - [[deleteWhere]] publishes equality deletes as a tiny sidecar
  *    (`_graft_deletes`), O(values) metadata — no data file is touched.
  *    Every subsequent read (batch AND streaming) applies the set
  *    exactly at decode time; metadata-served aggregates self-disable.
  *  - [[compactTo]] rewrites the table bin-packed by on-disk bytes into
  *    a fresh directory THROUGH the normal transactional write path, so
  *    the copy applies pending deletes physically, carries no sidecar,
  *    and gets a complete all-column zone manifest from the commit — the
  *    merge-on-read → copy-on-write transition.
  *
  * Compaction writes to a NEW directory rather than in place: readers of
  * the old path stay consistent for as long as the old directory exists,
  * and the swap is the caller's (atomic rename / view repoint) decision —
  * the same publish discipline as the engine's merge-publish loop.
  */
object AvroMaintenance {

  /** CDC changes read: the NET row-level difference between two
    * snapshot versions as a DataFrame tagged with `_change_type`
    * (`insert` | `delete`) — the Iceberg `table_changes` shape, and the
    * way a downstream pipeline syncs with a 100 TB table without ever
    * rescanning it. File-delta semantics: rows of files present at
    * `toVersion` but not `fromVersion` are inserts, rows of files
    * present at `fromVersion` but not `toVersion` are deletes; a file
    * that came AND went inside the range (append then overwrite)
    * contributes nothing — this is the net diff, not the event log. A
    * physical rewrite (compaction) of unchanged rows therefore surfaces
    * as delete+insert pairs of equal rows, which is also what Iceberg's
    * changelog emits for copy-on-write rewrites.
    *
    * Equality-delete sidecar deltas are ROW-LEVEL changes and are
    * served as such: entries the sidecar GAINED inside the range emit
    * the affected rows of files common to both versions as `delete`
    * rows (read at `fromVersion` — where they were visible — filtered
    * to the new entries), and entries that DISAPPEARED (rollback) emit
    * the re-surfacing rows as `insert`s at `toVersion`. Stamp gating is
    * exact: common files group by their applicable entry subset and
    * each group reads once. Exactness guards (all loud failures, never
    * a silent wrong changeset): positional deletes must not be pending
    * (they are a current-state overlay, not journaled per version);
    * both versions must exist in the journal (`fromVersion` 0 = since
    * the beginning). Each side reads through the normal versionAsOf
    * machinery (archive resolution, snapshot deletes, schema as-of),
    * restricted to its delta files — unchanged bulk is never opened.
    * Output schema = `toVersion`'s schema: delete-side rows null-fill
    * columns added since `fromVersion`, and columns dropped inside the
    * range are omitted.
    */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val d = new File(dir)
    val snaps = AvroFileSource.readSnapshots(d)
    require(snaps.nonEmpty,
      s"graft-avro changes: no snapshot journal under $dir")
    require(toVersion > fromVersion && fromVersion >= 0,
      s"graft-avro changes: bad range ($fromVersion, $toVersion]")
    require(snaps.exists(_.version == toVersion),
      s"graft-avro changes: no snapshot version $toVersion under $dir " +
        s"(have ${snaps.head.version}..${snaps.last.version})")
    require(fromVersion == 0 || snaps.exists(_.version == fromVersion),
      s"graft-avro changes: no snapshot version $fromVersion under $dir " +
        s"(have ${snaps.head.version}..${snaps.last.version})")
    // positional deletes journal per version since r16 and serve as
    // row-level deltas below; only a LEGACY (unjournaled) overlay
    // refuses — its arrival versions are unknowable
    require(AvroFileSource.posdelContent(d) == snaps.last.posdels,
      "graft-avro changes: positional deletes are pending that predate " +
        "posdel journaling (unjournaled overlay) — compact first")
    val fromSnap = snaps.find(_.version == fromVersion)
    val toSnap = snaps.find(_.version == toVersion).get
    val fromFiles = fromSnap.map(_.files.toSet).getOrElse(Set.empty)
    val toFiles = toSnap.files.toSet
    val added = (toFiles -- fromFiles).toSeq.sorted
    val removed = (fromFiles -- toFiles).toSeq.sorted
    def lineSet(c: Option[String]): Set[String] =
      c.map(_.split('\n').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val fromDelLines = lineSet(fromSnap.flatMap(_.deletes))
    val toDelLines = lineSet(toSnap.deletes)
    val addedDel = (toDelLines -- fromDelLines).toSeq.sorted
    val removedDel = (fromDelLines -- toDelLines).toSeq.sorted
    val common = (fromFiles & toFiles).toSeq.sorted
    def side(v: Long, rels: Seq[String]): DataFrame =
      spark.read.format("graft-avro")
        .option("versionAsOf", v)
        .option("restrictFiles", rels.mkString(","))
        .load(dir)
    def tag(df: DataFrame, t: String): DataFrame = {
      require(!df.columns.contains("_change_type"),
        "graft-avro changes: the table already has a _change_type column")
      df.withColumn("_change_type", F.lit(t))
    }
    // positional-delete state at both ends (journaled per version since
    // r16): net-gained ordinals emit as `delete` rows read at
    // fromVersion, net-lost ones (defensive — posdel is append-only for
    // live files today) re-surface at toVersion. The reads ride the
    // `_graft_file`/`_graft_pos` metadata pair, so the coordinates are
    // exactly the sidecar's.
    def posMapOf(o: Option[String]): Map[String, Array[Long]] =
      o.map(AvroFileSource.parsePosdelContent).getOrElse(Map.empty)
    /** (file, pos) membership filter over a frame CARRYING the
      * `_graft_file`/`_graft_pos` metadata columns. Small sets inline
      * as literal predicates; past [[AvroMaintenance.PosInlineLimit]]
      * total ordinals the set ships as a broadcast semi/anti join —
      * a deletion-vector sidecar can carry 100k+ positions, and a
      * literal IN-list that long blows up catalyst analysis/codegen at
      * exactly the scale the delta-matview refresh rides this path for.
      */
    def filterByPositions(df: DataFrame, m: Map[String, Array[Long]],
        negate: Boolean): DataFrame = {
      if (m.isEmpty) return df
      if (m.valuesIterator.map(_.length.toLong).sum <=
          AvroMaintenance.PosInlineLimit) {
        val cond = m.toSeq.sortBy(_._1).map { case (rel, ps) =>
          F.col(AvroFileSource.MetaFile) === rel &&
            F.col(AvroFileSource.MetaPos).isin(ps.toSeq: _*)
        }.reduce(_ || _)
        df.where(if (negate) !cond else cond)
      } else {
        val posDf = spark.createDataFrame(
          m.toSeq.sortBy(_._1).flatMap { case (rel, ps) =>
            ps.map(p => (rel, p))
          }).toDF("__graft_chg_rel", "__graft_chg_pos")
        df.join(F.broadcast(posDf),
          df(AvroFileSource.MetaFile) === posDf("__graft_chg_rel") &&
            df(AvroFileSource.MetaPos) === posDf("__graft_chg_pos"),
          if (negate) "left_anti" else "left_semi")
      }
    }
    val fromPos = posMapOf(fromSnap.flatMap(_.posdels))
    val toPos = posMapOf(toSnap.posdels)
    val commonSet = common.toSet
    def posDelta(a: Map[String, Array[Long]], b: Map[String, Array[Long]])
        : Map[String, Array[Long]] =
      a.collect { case (rel, ps) if commonSet(rel) =>
        val other = b.getOrElse(rel, Array.emptyLongArray).toSet
        rel -> ps.filterNot(other)
      }.filter(_._2.nonEmpty)
    val gainedPos = posDelta(toPos, fromPos)
    val lostPos = posDelta(fromPos, toPos)
    /** Per-row sidecar-delta pieces over the COMMON files: rows hit by
      * `deltaLines` entries (stamp-gated per file) read at version `v`
      * — where the version's own sidecar already restricts the read to
      * the rows visible in that role. Files group by their applicable
      * entry subset so each distinct stamp exposure reads once.
      * `excludePos` makes the POSDEL pieces authoritative for rows
      * killed (or resurrected) by BOTH mechanisms inside the range: a
      * row at a net-gained ordinal that also matches a gained equality
      * entry must emit exactly ONE delete, not two.
      */
    def deltaPieces(deltaLines: Seq[String], v: Long,
        excludePos: Map[String, Array[Long]]): Seq[DataFrame] = {
      if (deltaLines.isEmpty || common.isEmpty) return Nil
      val schema = side(v, common).schema
      // GAINED entries (delete side, v = fromVersion) were issued at or
      // before toVersion — parse them against the TO schema: a delete on
      // a column ADDED inside the range is well-formed there, and since
      // every visible-at-from row null-defaults that column, it matches
      // nothing on the delete side — drop it, don't fail the parse.
      val parseSchema =
        if (v == fromVersion && toSnap.files.nonEmpty)
          side(toVersion, toSnap.files).schema
        else schema
      val entries = AvroFileSource.parseDeleteContent(
          deltaLines.mkString("\n"), parseSchema)
        .filter(e => schema.fieldNames.contains(e.col))
      val births = AvroFileSource.fileBirths(d)
      common.groupBy { rel =>
        val b = births.getOrElse(rel, 0L)
        entries.filter(_.stamp.forall(_ > b))
          .map(e => (e.col, e.value)).toSet
      }.toSeq.collect { case (applicable, rels) if applicable.nonEmpty =>
        val cond = applicable.groupBy(_._1).map { case (c, kvs) =>
          F.col(c).isin(kvs.map(_._2).toSeq: _*)
        }.reduce(_ || _)
        val excl = rels.filter(excludePos.contains)
        if (excl.isEmpty) side(v, rels.sorted).where(cond)
        else {
          val df = side(v, rels.sorted)
          val withMeta = df.select((df.columns.toSeq.map(F.col) :+
              F.col(AvroFileSource.MetaFile) :+
              F.col(AvroFileSource.MetaPos)): _*)
            .where(cond)
          filterByPositions(withMeta,
              excludePos.view.filterKeys(excl.toSet).toMap, negate = true)
            .drop(AvroFileSource.MetaFile, AvroFileSource.MetaPos)
        }
      }
    }
    // newly-hidden rows were VISIBLE at fromVersion (its sidecar keeps
    // them) and match a gained entry; re-surfacing rows (rollback) are
    // visible at toVersion and match a lost entry
    val delDeltas = deltaPieces(addedDel, fromVersion, gainedPos)
      .map(tag(_, "delete"))
    val insDeltas = deltaPieces(removedDel, toVersion, lostPos)
      .map(tag(_, "insert"))
    def posPieces(m: Map[String, Array[Long]], v: Long): Seq[DataFrame] =
      if (m.isEmpty) Nil
      else {
        val rels = m.keys.toSeq.sorted
        val df = side(v, rels)
        val withMeta = df.select(
          (df.columns.toSeq.map(F.col) :+
            F.col(AvroFileSource.MetaFile) :+
            F.col(AvroFileSource.MetaPos)): _*)
        Seq(filterByPositions(withMeta, m, negate = false)
          .drop(AvroFileSource.MetaFile, AvroFileSource.MetaPos))
      }
    val posDelPieces =
      posPieces(gainedPos, fromVersion).map(tag(_, "delete"))
    val posInsPieces =
      posPieces(lostPos, toVersion).map(tag(_, "insert"))
    val pieces =
      (if (added.nonEmpty) Seq(tag(side(toVersion, added), "insert"))
      else Nil) ++ insDeltas ++ posInsPieces ++
        (if (removed.nonEmpty) Seq(tag(side(fromVersion, removed), "delete"))
        else Nil) ++ delDeltas ++ posDelPieces
    if (pieces.isEmpty) {
      // empty diff: serve an empty frame at a real snapshot's schema
      val anchor =
        if (toSnap.files.nonEmpty) side(toVersion, toSnap.files)
        else if (fromFiles.nonEmpty)
          side(fromVersion, fromFiles.toSeq.sorted)
        else throw new IllegalArgumentException(
          "graft-avro changes: both versions are empty — no schema " +
            "to serve an (empty) changeset under")
      tag(anchor.where(F.lit(false)), "insert")
    } else {
      // align every piece to the TO schema (delete-side reads may lack
      // columns added inside the range — null-fill them)
      val toSchema =
        (if (toSnap.files.nonEmpty) side(toVersion, toSnap.files)
        else side(fromVersion, fromFiles.toSeq.sorted)).schema
      val aligned = pieces.map { p =>
        p.select((toSchema.fields.map { f =>
          if (p.columns.contains(f.name)) F.col(f.name)
          else F.lit(null).cast(f.dataType).as(f.name)
        } :+ F.col("_change_type")).toIndexedSeq: _*)
      }
      aligned.reduce(_.unionByName(_))
    }
  }

  /** Append equality-delete predicates for `col` to the sidecar
    * (merged with any existing entries, deduplicated, atomic rename).
    * Values must be non-null and of the column's external type; only
    * exact-equality-decidable types are allowed (string + integral +
    * boolean — see [[AvroFileSource.deletableType]]).
    */
  def deleteWhere(spark: SparkSession, dir: String, col: String,
      values: Seq[Any]): Unit = {
    val d = new File(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    val f = schema.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"delete column '$col' not in table schema"))
    require(AvroFileSource.deletableType(f.dataType),
      s"delete does not support ${f.dataType.simpleString} (column '$col')")
    require(values.nonEmpty, "no delete values given")
    values.foreach { v =>
      require(v != null, "null delete values match nothing (SQL equality)")
      // round-trip guard: the sidecar stores the string form, so the
      // value must parse back to an equal external value
      val enc = java.net.URLEncoder.encode(v.toString, "UTF-8")
      val back = AvroFileSource.castPartitionValue(enc, f.dataType)
      require(back.contains(v),
        s"delete value '$v' does not round-trip as ${f.dataType.simpleString}")
    }
    AvroFileSource.withCommitLock(d) {
    val delF = AvroFileSource.deleteFile(d)
    val cEnc = java.net.URLEncoder.encode(col, "UTF-8")
    // stamp fresh entries with the version this delete will commit as
    // (the Iceberg sequence number): they apply only to files born
    // strictly earlier, so rows appended AFTER the delete — a MERGE
    // re-insert — survive. On a journal-less legacy table the stamp is 1
    // and pre-journal files read as birth 0, so the delete still applies.
    val stamp = AvroFileSource.readSnapshots(d)
      .lastOption.map(_.version + 1).getOrElse(1L)
    val fresh = values.map(v =>
      AvroFileSource.RawDelete(cEnc, f.dataType.simpleString,
        java.net.URLEncoder.encode(v.toString, "UTF-8"), Some(stamp)))
    val prior =
      if (delF.isFile) AvroFileSource.readDeletesRaw(delF) else Nil
    // re-deleting a value REPLACES any prior entry for it (keep the
    // newest stamp): the caller's intent is "delete from the table as it
    // stands now", and a stale unstamped entry left behind would keep
    // killing future re-inserts
    val freshKeys = fresh.map(r => (r.col, r.tpe, r.value)).toSet
    val merged =
      prior.filterNot(r => freshKeys((r.col, r.tpe, r.value))) ++ fresh
    val tmp = new File(delF.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      merged.map { r =>
        s"${r.col}\t${r.tpe}\t${r.value}" +
          r.stamp.map(s => s"\t$s").getOrElse("")
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(delF))
      throw new java.io.IOException(
        s"graft-avro delete: rename failed $tmp -> $delF")
    // a delete changes query results: it is a VERSION, same as a write
    AvroFileSource.appendSnapshot(d, "delete")
    }
  }

  /** Row-level MERGE (upsert) by equality key: every table row whose
    * `keyCol` appears in `updates` is replaced by the update row; keys
    * the table lacks are plain inserts. Published as TWO snapshot
    * versions through the existing commit primitives — a version-stamped
    * equality delete of the incoming keys, then a transactional append
    * of the update rows (whose files are BORN after the delete's stamp,
    * so the stamp rule keeps them). A reader between the two versions
    * sees a consistent subset state (base minus matched keys), never
    * duplicates; a crash between them re-runs idempotently (the rerun's
    * delete re-stamps and the append lands once).
    *
    * Driver cost is O(distinct update keys) — the same bound as the
    * delete sidecar those keys become. For update batches beyond sidecar
    * scale, compact first (equality deletes are metadata, not data).
    */
  def mergeInto(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, maxKeys: Int = MaxMergeSidecarKeys): Unit = {
    val tableSchema = spark.read.format("graft-avro").load(dir).schema
    require(updates.schema.fieldNames.toSet == tableSchema.fieldNames.toSet,
      s"merge schema mismatch: table has " +
        s"[${tableSchema.fieldNames.mkString(",")}], updates have " +
        s"[${updates.schema.fieldNames.mkString(",")}]")
    import org.apache.spark.sql.functions.col
    // pin the batch: keys are collected AND rows appended from the SAME
    // materialization (a non-deterministic updates plan must not diverge
    // between the delete and the insert half)
    val pinned = updates
      .select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
      .localCheckpoint()
    // null keys match no equality delete (SQL semantics) and are plain
    // inserts; they are appended but excluded from the delete set.
    // The collect is bounded BEFORE it can OOM the driver: limit+1 rows
    // come back at most, and over-scale batches get a contract error
    // routing them to the copy-on-write path instead of a heap dump.
    val keys = pinned.select(keyCol).distinct()
      .limit(maxKeys + 1).collect()
      .map(_.get(0)).filter(_ != null).toSeq
    require(keys.length <= maxKeys,
      s"graft-avro mergeInto: update batch has more than " +
        s"$maxKeys distinct '$keyCol' keys — beyond sidecar " +
        "scale. Use SQL MERGE INTO (copy-on-write row-level op, fully " +
        "distributed) or compact first and retry with smaller batches")
    if (keys.nonEmpty) deleteWhere(spark, dir, keyCol, keys)
    pinned.write.format("graft-avro").mode("append").save(dir)
  }

  /** Ceiling on [[mergeInto]]'s driver-collected distinct-key set: the
    * keys become equality-delete sidecar lines read by every subsequent
    * scan, so the bound is a sidecar-health contract, not just an OOM
    * guard.
    */
  val MaxMergeSidecarKeys: Int = 100000

  /** Above this many total (file, pos) ordinals, [[changes]] ships the
    * membership set as a broadcast join instead of literal `isin`
    * predicates (catalyst analysis/codegen cost grows with IN-list
    * length; a deletion-vector sidecar can carry 100k+ ordinals).
    */
  val PosInlineLimit: Long = 1024L

  /** Sort-preserving compaction: bin-pack like [[compactTo]] but
    * range-partition + sort on `col` and write under a VERIFIED
    * `sortedBy` claim, so the output keeps the sorted-layout marker,
    * the sort-zone manifest, and therefore metadata-served MIN/MAX and
    * selective file skipping — the OPTIMIZE that repairs both file
    * count AND clustering in one pass. Deletes apply on the way through
    * (they ride the read).
    */
  def compactSortedTo(spark: SparkSession, in: String, out: String,
      col: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"target bytes $targetBytes")
    val bytes = listBytes(in)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    import org.apache.spark.sql.functions.{col => c}
    // `col` may be a compound `"c1,c2"` spec: range-partition + sort on
    // the full tuple so the rewrite re-verifies the lexicographic claim
    val cols = AvroFileSource.sortCols(col)
    spark.read.format("graft-avro").load(in)
      .repartitionByRange(n, cols.map(c): _*)
      .sortWithinPartitions(cols.map(c): _*)
      .write.format("graft-avro").option("sortedBy", col)
      .mode("overwrite").save(out)
    n
  }

  /** Multi-dimensional clustering rewrite (OPTIMIZE ZORDER / HILBERT):
    * map the named columns onto a space-filling curve index,
    * range-partition on it, and rewrite — after which the all-column
    * zone manifest gives BOTH columns tight per-file ranges, so
    * selective predicates on EITHER dimension skip files. The curve
    * value is layout-only; the schema is unchanged. `curve` picks the
    * index: "z" (Morton interleave, the flat-bit default) or "hilbert"
    * (unit-step locality — each file covers one CONTIGUOUS region
    * instead of disconnected z-blocks, typically fewer overlapping
    * files per box predicate at scale).
    */
  def clusterBy(spark: SparkSession, in: String, out: String,
      colX: String, colY: String, targetFiles: Int,
      curve: String = "z"): Int = {
    clustered(spark, in, colX, colY, targetFiles, curve)
      .write.format("graft-avro").mode("overwrite").save(out)
    targetFiles
  }

  /** In-place re-layout (`CALL system.cluster`): the same space-curve
    * sort written back over the source table. The clustered rows are
    * materialized BEFORE the overwrite (the compactInPlace rule — a
    * lazy plan would scan the directory mid-replace); the replaced
    * generation archives through the normal overwrite commit, so time
    * travel across the re-layout works.
    */
  def clusterInPlace(spark: SparkSession, dir: String,
      colX: String, colY: String, targetFiles: Int,
      curve: String = "z"): Int = {
    clustered(spark, dir, colX, colY, targetFiles, curve)
      .localCheckpoint(true)
      .write.format("graft-avro").mode("overwrite").save(dir)
    targetFiles
  }

  private def clustered(spark: SparkSession, in: String,
      colX: String, colY: String, targetFiles: Int,
      curve: String): org.apache.spark.sql.DataFrame = {
    require(targetFiles >= 1, s"target files $targetFiles")
    require(curve == "z" || curve == "hilbert", s"unknown curve '$curve'")
    import org.apache.spark.sql.functions.{col => c, lit, max, min}
    val df = spark.read.format("graft-avro").load(in)
    // min/max linear scaling to 16 bits per dimension: one tiny
    // broadcastable aggregate instead of a global rank window (which
    // would funnel the corpus through one task at scale); skewed
    // domains cluster less evenly but the layout stays correct —
    // pruning is always best-effort
    val b = df.agg(min(c(colX)).cast("double").as("x0"),
      max(c(colX)).cast("double").as("x1"),
      min(c(colY)).cast("double").as("y0"),
      max(c(colY)).cast("double").as("y1")).head()
    def scale(col: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else ((col.cast("double") - lit(lo)) / lit(hi - lo) *
        lit((1 << 16) - 1)).cast("long")
    if (curve == "hilbert") graft.functions.VectorFunctions.register(spark)
    def curveCol(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      if (curve == "hilbert") graft.functions.VectorFunctions.hilbert2(x, y, 16)
      else graft.functions.ZOrder.zvalue(x, y, 16)
    df
      .withColumn("__z", curveCol(
        scale(c(colX), b.getDouble(0), b.getDouble(1)),
        scale(c(colY), b.getDouble(2), b.getDouble(3))))
      .repartitionByRange(targetFiles, c("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  // ------------------------------------------------------------------
  // Branches — write-audit-publish staging (see the branch section in
  // AvroFileSource for the storage model).
  // ------------------------------------------------------------------

  /** Fork a branch at main's current version. The overlay starts empty;
    * stage data with `.option("branch", name)` writes, audit with
    * `.option("branch", name)` reads (main-at-fork ∪ overlay), then
    * [[publishBranch]] or [[dropBranch]]. The fork version is pinned
    * against [[expireSnapshots]] via a `branch/<name>` ref. Returns the
    * fork version.
    */
  def createBranch(dir: String, name: String): Long = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    // jumpstart journaling on a legacy table so the fork version exists
    if (!AvroFileSource.snapshotsFile(d).isFile)
      AvroFileSource.appendSnapshot(d, "branch-base")
    val snaps = AvroFileSource.readSnapshots(d)
    require(snaps.nonEmpty,
      s"graft-avro: cannot branch '$dir' before its first commit")
    val bd = AvroFileSource.branchDir(d, name)
    require(!bd.exists(), s"graft-avro: branch '$name' already exists")
    java.nio.file.Files.createDirectories(bd.toPath)
    val forkV = snaps.last.version
    java.nio.file.Files.write(AvroFileSource.branchForkFile(bd).toPath,
      s"$forkV\n".getBytes("UTF-8"))
    tag(dir, s"branch/$name", forkV)
    forkV
    }
  }

  /** Fast-forward publish: move the overlay's staged files into main
    * (rename, never rewrite — names are generation-unique) and commit
    * ONE snapshot that makes the whole set visible atomically. Refuses
    * loudly when main advanced past the fork version (non-fast-forward:
    * re-stage on a fresh branch) — the optimistic-concurrency rule that
    * keeps publish exactly-once under concurrent writers. Additive
    * manifests (all-column zones, blooms, row counts, NDV sketches)
    * merge verbatim because relative paths are preserved; the sort
    * claim does NOT survive an unverified append, so main's marker and
    * sort-zone manifest are withdrawn together when files land. The
    * branch is consumed (its files moved), so it is dropped. Returns
    * main's new current version.
    */
  def publishBranch(dir: String, name: String): Long = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val (forkV, bd) = AvroFileSource.branchFork(d, name)
    val cur = AvroFileSource.readSnapshots(d).lastOption
      .map(_.version).getOrElse(0L)
    require(cur == forkV,
      s"graft-avro: non-fast-forward publish of branch '$name' — main " +
        s"is at v$cur, branch forked at v$forkV; re-stage on a fresh " +
        "branch")
    require(!AvroFileSource.deleteFile(bd).isFile,
      s"graft-avro: branch '$name' carries a delete sidecar; branches " +
        "are append-only overlays")
    val base = bd.getAbsoluteFile.toPath
    val moved = AvroFileSource.listAvro(bd).map { f =>
      val rel = base.relativize(f.getAbsoluteFile.toPath).toString
      val tgt = new File(d, rel)
      if (tgt.exists()) throw new IllegalStateException(
        s"graft-avro publish: target '$rel' already exists under $dir")
      Option(tgt.getParentFile).foreach(_.mkdirs())
      if (!f.renameTo(tgt)) throw new java.io.IOException(
        s"graft-avro publish: rename failed $f -> $tgt")
      rel
    }
    if (moved.nonEmpty) {
      // additive manifests merge line-verbatim (absence ⇒ scan / stats
      // withhold, so a partial result stays sound either way)
      appendManifest(AvroFileSource.colZoneFile(bd),
        AvroFileSource.colZoneFile(d))
      appendManifest(AvroFileSource.bloomFile(bd),
        AvroFileSource.bloomFile(d))
      appendManifest(AvroFileSource.rowsFile(bd),
        AvroFileSource.rowsFile(d))
      appendManifest(AvroFileSource.ndvFile(bd), AvroFileSource.ndvFile(d))
      appendManifest(AvroFileSource.blockIdxFile(bd),
        AvroFileSource.blockIdxFile(d))
      // an unverified append invalidates the exact-ordering claim:
      // marker and sort-zone manifest are withdrawn TOGETHER
      AvroFileSource.sortMarker(d).delete()
      AvroFileSource.zoneFile(d).delete()
      AvroFileSource.appendSnapshot(d, s"publish:$name")
    }
    dropBranch(dir, name)
    AvroFileSource.readSnapshots(d).last.version
    }
  }

  /** Branch-scoped change feed (the WAP audit question: "what exactly
    * would this branch add if published?"): every overlay row as an
    * `insert` tagged with the fork version — the base the audit diffs
    * against. Branches are append-only overlays with no history of
    * their own, so the feed is exactly the staged rows; they ride the
    * REAL branch scan (schema union, rename views, fork-pinned delete
    * stamps) and are isolated via the `_graft_file` metadata column's
    * overlay prefix. Refuses when main advanced past the fork: the
    * overlay's base is stale, publish would refuse the fast-forward,
    * and a feed spanning main's post-fork versions is a cross-branch
    * version range the overlay cannot express — re-stage on a fresh
    * branch. Unknown branches refuse via the fork resolution.
    */
  def branchChanges(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val d = new File(dir)
    val (forkV, _) = AvroFileSource.branchFork(d, name)
    val cur = AvroFileSource.readSnapshots(d).lastOption
      .map(_.version).getOrElse(0L)
    require(cur == forkV,
      s"graft-avro branch changes: main is at v$cur but branch '$name' " +
        s"forked at v$forkV — the feed cannot span main's post-fork " +
        "versions (cross-branch version range); re-stage on a fresh " +
        "branch")
    val prefix = "_graft_branches/"
    // overlay-only planning: the scan never touches main's bulk (the
    // 100 TB shape — the feed's cost is O(staged files)); the metadata
    // prefix filter stays as defense in depth
    val df = spark.read.format("graft-avro")
      .option("branch", name)
      .option("branchOverlayOnly", "true").load(dir)
    df.select((df.columns.toSeq.map(F.col) :+
        F.col(AvroFileSource.MetaFile)): _*)
      .where(F.col(AvroFileSource.MetaFile).startsWith(prefix))
      .drop(AvroFileSource.MetaFile)
      .withColumn("_change_type", F.lit("insert"))
      .withColumn("_commit_version", F.lit(forkV))
  }

  /** Abandon a branch: delete the overlay and unpin its fork ref. */
  def dropBranch(dir: String, name: String): Unit = {
    val d = new File(dir)
    val bd = AvroFileSource.branchDir(d, name)
    require(bd.isDirectory, s"graft-avro: no branch '$name' to drop")
    import java.nio.file.{Files => JF, Path}
    JF.walk(bd.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => JF.deleteIfExists(p))
    val refs = AvroFileSource.readRefs(d)
    if (refs.contains(s"branch/$name"))
      AvroFileSource.writeRefs(d, refs - s"branch/$name")
  }

  /** Append src manifest's lines to dst (creating it if absent) via the
    * staging + atomic-rename discipline every manifest write uses.
    */
  private def appendManifest(src: File, dst: File): Unit = {
    if (!src.isFile) return
    val add = new String(
      java.nio.file.Files.readAllBytes(src.toPath), "UTF-8")
    if (add.isEmpty) return
    val existing =
      if (dst.isFile)
        new String(java.nio.file.Files.readAllBytes(dst.toPath), "UTF-8")
      else ""
    val joined =
      if (existing.isEmpty || existing.endsWith("\n")) existing + add
      else existing + "\n" + add
    val tmp = new File(dst.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath, joined.getBytes("UTF-8"))
    if (!tmp.renameTo(dst)) throw new java.io.IOException(
      s"graft-avro publish: rename failed $tmp -> $dst")
  }

  /** Tag a snapshot version with a stable name (Iceberg tags): resolved
    * by `.option("tagAsOf", name)` reads and PINNED against
    * [[expireSnapshots]] until dropped.
    */
  def tag(dir: String, name: String, version: Long): Unit = {
    require(name.nonEmpty, "empty tag name")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val snaps = AvroFileSource.readSnapshots(d)
    require(snaps.exists(_.version == version),
      s"graft-avro: cannot tag unknown version $version " +
        s"(have ${snaps.map(_.version).mkString(", ")})")
    AvroFileSource.writeRefs(d,
      AvroFileSource.readRefs(d) + (name -> version))
    }
  }

  /** Remove a tag; its version becomes expirable again. */
  def dropTag(dir: String, name: String): Unit = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val refs = AvroFileSource.readRefs(d)
    require(refs.contains(name), s"graft-avro: no tag '$name' to drop")
    AvroFileSource.writeRefs(d, refs - name)
    }
  }

  /** Vacuum: keep only the last `keepLast` snapshot versions, rewrite
    * the journal (oldest kept version becomes a full entry; later ones
    * keep their deltas), and delete archived files no kept snapshot
    * references. Live data files are never touched — the current version
    * is always kept. The retention/vacuum half of time travel: bounded
    * archive growth at scale, O(archived files) driver work.
    */
  def expireSnapshots(dir: String, keepLast: Int,
      graceMs: Long = 0L): Int = {
    require(keepLast >= 1, s"keepLast $keepLast (current version must survive)")
    require(graceMs >= 0, s"graceMs $graceMs")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val snaps = AvroFileSource.readSnapshots(d)
    // tagged versions are PINNED: the vacuum keeps last-N ∪ tagged
    val pinned = AvroFileSource.readRefs(d).values.toSet
    val keepV = snaps.takeRight(keepLast).map(_.version).toSet ++ pinned
    expireKeeping(d, snaps, keepV, graceMs)
    }
  }

  /** TIME-based retention (the policy real deployments run: "keep 7
    * days of history"): expire every snapshot whose commit timestamp
    * predates `cutoffMillis`, keeping the current version and tagged
    * versions unconditionally. Same rebase + archive sweep as
    * [[expireSnapshots]].
    */
  def expireSnapshotsOlderThan(dir: String, cutoffMillis: Long,
      graceMs: Long = 0L): Int = {
    require(graceMs >= 0, s"graceMs $graceMs")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val snaps = AvroFileSource.readSnapshots(d)
    if (snaps.isEmpty) return 0
    val pinned = AvroFileSource.readRefs(d).values.toSet
    val keepV = snaps.filter(_.millis >= cutoffMillis)
      .map(_.version).toSet + snaps.last.version ++ pinned
    expireKeeping(d, snaps, keepV, graceMs)
    }
  }

  /** Shared vacuum body: rebase the journal to the kept versions and
    * delete unreferenced archive files. Caller holds the commit lock.
    *
    * `graceMs`: a RUNNING scan pins its file list at planInputPartitions
    * and may still be reading an archived file when the vacuum lands —
    * a grace window keeps unreferenced archive files on disk until
    * `graceMs` past their ARCHIVE time (stamped into the file mtime by
    * [[AvroFileSource.stampArchived]]). The journal still rebases
    * immediately — only the physical delete waits — and a LATER expire
    * call reclaims the aged survivors even when it drops no versions
    * itself (the sweep runs on every call).
    */
  private def expireKeeping(d: File,
      snaps: Seq[AvroFileSource.Snapshot], keepV: Set[Long],
      graceMs: Long = 0L): Int = {
    val kept = snaps.filter(s => keepV.contains(s.version))
    if (kept.size == snaps.size)
      return sweepArchive(d, kept.flatMap(_.files).toSet, graceMs)
    // rewrite: full file set for the first kept version, then re-deltaed
    // changes between consecutive KEPT versions (which need not be
    // contiguous once tags pin old versions — the journal parser allows
    // gaps but enforces strictly-increasing versions)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // capture per-file births BEFORE the rewrite: the rebase collapses
    // early versions, and without explicit `@birth` suffixes a delete
    // stamped in the collapsed range would stop applying to the files it
    // was meant for (resurrecting rows). Unknown files default to birth
    // 0 — the maximally-deleting, never-resurrecting direction.
    val births = AvroFileSource.fileBirths(d)
    def add(r: String) = "+" + enc(r) + "@" + births.getOrElse(r, 0L)
    val lines = kept.zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0) None else Some(kept(i - 1))
      val deltas =
        if (i == 0) s.files.sorted.map(add)
        else {
          val pf = prev.get.files.toSet
          s.files.filterNot(pf).sorted.map(add) ++
            (pf -- s.files).toSeq.sorted.map(r => "-" + enc(r))
        }
      val delCol =
        if (i > 0 && prev.get.deletes == s.deletes) "~"
        else s.deletes.map(enc).getOrElse("-")
      val posCol =
        if (i > 0 && prev.get.posdels == s.posdels) "~"
        else s.posdels.map(enc).getOrElse("-")
      Seq(s.version.toString, s.millis.toString, enc(s.kind), delCol,
        if (deltas.isEmpty) "-" else deltas.mkString(","),
        posCol).mkString("\t")
    }
    // readSnapshots requires version 1 first: keep original numbering by
    // allowing the journal to start at any version — bump the parser's
    // expectation from the first line instead
    val jf = AvroFileSource.snapshotsFile(d)
    val tmp = new File(jf.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(jf)) throw new java.io.IOException(
      s"graft-avro expire: rename failed $tmp -> $jf")
    sweepArchive(d, kept.flatMap(_.files).toSet, graceMs)
  }

  /** Delete archive files no kept snapshot references, honoring the
    * retention grace: a file younger than `graceMs` survives this sweep
    * and ages out on a later call. Archive time comes from the durable
    * `_graft_archived` sidecar (written by every archive move), falling
    * back to mtime for legacy entries archived before the sidecar
    * existed — the sidecar exists because setLastModified is
    * best-effort and an unstamped file would age by its ORIGINAL write
    * time, reclaiming early under a concurrent scan's grace window.
    */
  private def sweepArchive(d: File, referenced: Set[String],
      graceMs: Long): Int = {
    val arch = AvroFileSource.archiveDir(d)
    var removed = 0
    val cutoff = System.currentTimeMillis() - graceMs
    val stamps = AvroFileSource.readArchivedStamps(d)
    if (arch.isDirectory) {
      val base = arch.getAbsoluteFile.toPath
      val onDisk = scala.collection.mutable.Set.empty[String]
      def sweep(f: File): Unit =
        if (f.isDirectory) {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(sweep)
          if (f != arch &&
              Option(f.listFiles()).forall(_.isEmpty)) { f.delete(); () }
        } else if (f.getName.endsWith(".avro")) {
          val rel = base.relativize(f.getAbsoluteFile.toPath).toString
          val archivedMs = stamps.getOrElse(rel, f.lastModified())
          if (!referenced.contains(rel) && archivedMs <= cutoff) {
            if (f.delete()) removed += 1 else onDisk += rel
          } else onDisk += rel
        }
      sweep(arch)
      if (Option(arch.listFiles()).forall(_.isEmpty)) arch.delete()
      // prune stamp entries whose files are gone (deleted here, or
      // restored to live by a rollback)
      if (stamps.nonEmpty)
        AvroFileSource.writeArchivedStamps(d,
          stamps.filter { case (rel, _) => onDisk.contains(rel) })
    } else if (stamps.nonEmpty) {
      AvroFileSource.writeArchivedStamps(d, Map.empty)
    }
    removed
  }

  /** Delete LIVE-directory data files that NO snapshot references —
    * orphans smuggled in outside any commit (foreign writers, aborted
    * copies). Scan planning serves the file list from the snapshot
    * journal, so orphans are already invisible to queries; this is the
    * explicit disk reclaim (Iceberg's remove_orphan_files analogue).
    * Refuses on unjournaled directories: there the walk fallback serves
    * every file, so nothing is provably orphaned. Archive files belong
    * to [[expireSnapshots]], not this sweep.
    */
  def removeOrphans(dir: String): Int = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
      val snaps = AvroFileSource.readSnapshots(d)
      require(snaps.nonEmpty,
        s"graft-avro removeOrphans: $dir has no snapshot journal — an " +
          "unjournaled directory serves every file, nothing is orphaned")
      val referenced = snaps.flatMap(_.files).toSet
      val base = d.getAbsoluteFile.toPath
      var removed = 0
      AvroFileSource.listAvro(d).foreach { f =>
        val rel = base.relativize(f.getAbsoluteFile.toPath).toString
        if (!referenced.contains(rel) && f.delete()) removed += 1
      }
      removed
    }
  }

  /** NET row-level changes between two snapshot versions — the CDC
    * read. Additive ranges (per-version file superset, deletes
    * untouched — exactly the incremental-read guard) take the FAST
    * PATH: only the files added in the range are scanned and every row
    * is an `insert`; zero shuffles, zero diff compute. Any other
    * history (equality deletes, overwrites, row-level rewrites) falls
    * back to the SEMANTIC DIFF: toV-state EXCEPT ALL fromV-state are
    * the inserts, fromV EXCEPT ALL toV the deletes — bag semantics
    * (duplicate rows diff by multiplicity), one hash-aggregate shuffle
    * each, the honest cost of net changes across arbitrary history.
    * Output = the table's columns plus `_change_type`
    * ('insert' | 'delete'). A row rewritten in place with identical
    * values nets to NO change, which is what "net" means.
    */
  def readChanges(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV < toV, s"fromVersion $fromV must precede toVersion $toV")
    import org.apache.spark.sql.{functions => F}
    val additive =
      try { AvroFileSource.incrementalFiles(new File(dir), fromV, toV); true }
      catch { case _: IllegalStateException | _: IllegalArgumentException =>
        false }
    if (additive)
      spark.read.format("graft-avro")
        .option("fromVersion", fromV).option("toVersion", toV).load(dir)
        .withColumn("_change_type", F.lit("insert"))
    else {
      val a = spark.read.format("graft-avro")
        .option("versionAsOf", fromV).load(dir)
      val b = spark.read.format("graft-avro")
        .option("versionAsOf", toV).load(dir)
      require(a.schema.fieldNames.sameElements(b.schema.fieldNames),
        s"graft-avro readChanges: schema changed across $fromV..$toV " +
          s"(${a.schema.fieldNames.mkString(",")} vs " +
          s"${b.schema.fieldNames.mkString(",")}) — diff the versions " +
          "explicitly")
      b.exceptAll(a).withColumn("_change_type", F.lit("insert"))
        .unionByName(
          a.exceptAll(b).withColumn("_change_type", F.lit("delete")))
    }
  }

  /** Register data files that landed in the directory OUTSIDE any
    * commit (foreign writers, bulk copies) as a new snapshot version —
    * Iceberg's add_files analogue, the import counterpart of
    * [[removeOrphans]]. Under journal-served planning such files are
    * invisible until journaled; this mints the version that adopts
    * them. The commit walk already records the directory's full state,
    * so adoption is exactly one [[AvroFileSource.appendSnapshot]] under
    * the table lock. Returns the number of files adopted (0 = no-op,
    * no version minted).
    */
  def addFiles(dir: String): Int = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
      val before = AvroFileSource.readSnapshots(d).lastOption
        .map(_.files.toSet).getOrElse(Set.empty)
      val base = d.getAbsoluteFile.toPath
      val live = AvroFileSource.listAvro(d)
        .map(f => base.relativize(f.getAbsoluteFile.toPath).toString).toSet
      val fresh = live -- before
      if (fresh.nonEmpty)
        AvroFileSource.appendSnapshot(d, "add-files")
      fresh.size
    }
  }

  /** POSITIONAL delete: kill specific physical rows of one live file by
    * their 0-based decode ordinals — the second merge-on-read flavor
    * next to equality deletes (Iceberg v2 carries both). O(positions)
    * metadata, no data rewrite; readers skip the ordinals exactly at
    * decode, byte-range splitting self-disables for the file, and every
    * metadata-served aggregate/statistic stands down while the sidecar
    * exists. Positions are validated against the file's physical row
    * count (block headers — zero rows decoded).
    */
  /** Choose how SQL UPDATE / MERGE / rewrite-DELETE execute on this
    * table: `copy-on-write` (default — rewrite every file holding a
    * match, reads stay sidecar-free) or `merge-on-read` (delta-based:
    * deletes become `_graft_posdel` positions, updates pair them with
    * plain appends — O(changed rows), the sparse-update shape; readers
    * pay the merge until the next compaction). The marker only affects
    * FUTURE operations; pending sidecars from either mode read the same.
    */
  def setRowLevelMode(dir: String, mode: String): Unit = {
    require(mode == AvroFileSource.CopyOnWrite ||
      mode == AvroFileSource.MergeOnRead,
      s"graft-avro: unknown row-level mode '$mode' — expected " +
        s"${AvroFileSource.CopyOnWrite} or ${AvroFileSource.MergeOnRead}")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
      val f = AvroFileSource.rowLevelModeFile(d)
      if (mode == AvroFileSource.CopyOnWrite) { f.delete(); () }
      else java.nio.file.Files.write(f.toPath, mode.getBytes("UTF-8"))
    }
  }

  def deleteAtPositions(dir: String, rel: String,
      positions: Seq[Long]): Unit = {
    require(positions.nonEmpty, "no positions given")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val f = new File(d, rel)
    require(f.isFile && rel.endsWith(".avro") && !rel.startsWith("_graft"),
      s"graft-avro positional delete: '$rel' is not a live data file")
    val reader = new org.apache.avro.file.DataFileReader(f,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    var n = 0L
    try while (reader.hasNext) { n += reader.getBlockCount; reader.nextBlock() }
    finally reader.close()
    require(positions.forall(p => p >= 0 && p < n),
      s"graft-avro positional delete: positions outside [0, $n) for $rel")
    val prior = AvroFileSource.readPosdel(d)
    val merged = prior + (rel ->
      (prior.getOrElse(rel, Array.emptyLongArray) ++ positions)
        .distinct.sorted)
    AvroFileSource.writePosdelSidecar(d, merged)
    // r16: positional deletes journal their own version (the sidecar
    // content rides the snapshot line), so CDC feeds and travel reads
    // can resolve the exact historical overlay instead of refusing
    AvroFileSource.appendSnapshot(d, "posdel")
    }
  }

  /** RENAME a top-level column WITHOUT rewriting a byte of data (the
    * Iceberg schema-evolution capability hive-style name matching
    * cannot give): appends `version TAB from TAB to` to the
    * `_graft_colmap` sidecar. Readers decode pre-rename files through
    * Avro reader-field aliases; files written after the rename carry
    * the new name natively — which also keeps RE-ADDING the old name
    * later unambiguous (birth-version rule). Refuses loudly when the
    * rename would change delete-sidecar semantics or a branch overlay
    * exists (overlay files have no birth version on main's journal).
    * Old-name zone/bloom/NDV manifest entries simply stop matching —
    * absence means scan, so pruning degrades, correctness doesn't. The
    * verified-sort marker IS translated (the data is still sorted by
    * the renamed column).
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Unit = renameColumn(dir, from, to)

  /** Sessionless variant (schema comes from the source's own driver-side
    * inference) — the SQL catalog's ALTER TABLE entry point.
    */
  def renameColumn(dir: String, from: String, to: String): Unit = {
    val d = new File(dir)
    val cur = currentSchema(dir)
    require(cur.fieldNames.contains(from),
      s"graft-avro rename: no column '$from' in ${cur.fieldNames.mkString(",")}")
    require(!cur.fieldNames.contains(to),
      s"graft-avro rename: column '$to' already exists")
    require(!AvroFileSource.retiredColumns(d).contains(to),
      s"graft-avro rename: '$to' was dropped earlier and is retired on " +
        "this table (the evolution replay would re-hide it)")
    // a struct with retired NESTED children keeps its name: the retired
    // dotted paths are keyed on it, and a rename would let a fresh
    // `newName.child` write resurrect the pre-drop bytes through the
    // reader alias
    require(!AvroFileSource.retiredColumns(d)
        .exists(_.startsWith(from + ".")),
      s"graft-avro rename: '$from' has retired nested fields — its " +
        "name anchors their retirement and cannot change")
    require(!AvroFileSource.deleteFile(d).isFile ||
      !new String(java.nio.file.Files.readAllBytes(
        AvroFileSource.deleteFile(d).toPath), "UTF-8")
        .linesIterator.exists(_.startsWith(
          java.net.URLEncoder.encode(from, "UTF-8") + "\t")),
      s"graft-avro rename: pending equality deletes reference '$from' — " +
        "compact first")
    require(!AvroFileSource.branchesDir(d).isDirectory ||
      AvroFileSource.branchesDir(d).listFiles().forall(!_.isDirectory),
      "graft-avro rename: drop or publish branches first (overlay files " +
        "carry no birth version on the main journal)")
    AvroFileSource.withCommitLock(d) {
    val v = AvroFileSource.readSnapshots(d).lastOption
      .map(_.version).getOrElse(0L) + 1
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val f = AvroFileSource.colmapFile(d)
    val line = s"$v\t${enc(from)}\t${enc(to)}\n"
    java.nio.file.Files.write(f.toPath, line.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // the verified-sort claim follows its column's new name (any
    // position in a compound spec)
    val sortSpec = AvroFileSource.sortedColumnsOf(d)
    if (sortSpec.contains(from)) {
      java.nio.file.Files.write(AvroFileSource.sortMarker(d).toPath,
        sortSpec.map(n => if (n == from) to else n).mkString(",")
          .getBytes("UTF-8"))
    }
    ()
    }
  }

  /** Current table schema straight from the source's inference (no
    * SparkSession needed — the header sweep and every sidecar overlay
    * are driver-side metadata), so the SQL catalog can run schema
    * evolution without a session handle.
    */
  private def currentSchema(dir: String)
      : org.apache.spark.sql.types.StructType = {
    import scala.jdk.CollectionConverters._
    new AvroFileSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> dir).asJava))
  }

  private def requireNoBranches(d: File, op: String): Unit =
    require(!AvroFileSource.branchesDir(d).isDirectory ||
      AvroFileSource.branchesDir(d).listFiles().forall(!_.isDirectory),
      s"graft-avro $op: drop or publish branches first (evolution must " +
        "predate every branch fork)")

  /** ALTER TABLE ADD COLUMN without touching a data file: appends a
    * version-stamped `add` entry to the `_graft_evo` sidecar after
    * minting a metadata-only snapshot version (so AS OF reads bracket
    * the ALTER exactly). The column is forced nullable — older files
    * synthesize null through the reader-schema default; files written
    * afterwards carry it natively. Reusing a DROPPED name is refused
    * forever: name-based resolution would resurrect pre-drop bytes.
    */
  def addColumn(dir: String,
      field: org.apache.spark.sql.types.StructField): Unit = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    requireNoBranches(d, "add-column")
    val cur = currentSchema(dir)
    val segs = field.name.split('.').toSeq
    if (segs.length > 1) {
      // nested add (r20): every parent must be a plain struct column;
      // decode needs no new machinery (resolveReader's record recursion
      // already synthesizes a null default for a reader-only nested
      // field). DEFAULT values stay top-level-only.
      require(!field.metadata.contains(AvroFileSource.DefaultKindKey),
        s"graft-avro add-column: DEFAULT on nested '${field.name}' is " +
          "not supported — nested adds fill null on existing rows")
      val parent = AvroFileSource.navStruct(cur, segs.init,
        s"graft-avro add-column '${field.name}'")
      require(!parent.fieldNames.contains(segs.last),
        s"graft-avro add-column: field '${field.name}' already exists")
    } else
      require(!cur.fieldNames.contains(field.name),
        s"graft-avro add-column: column '${field.name}' already exists")
    require(!AvroFileSource.retiredColumns(d).contains(field.name),
      s"graft-avro add-column: '${field.name}' was dropped earlier and " +
        "is retired on this table — pick a new name")
    AvroFileSource.appendSnapshot(d, "add-column", force = true)
    val v = AvroFileSource.readSnapshots(d).last.version
    AvroFileSource.appendEvo(d, v, "add",
      org.apache.spark.sql.types.StructType(
        Seq(field.copy(nullable = true))).json)
    }
  }

  /** ALTER TABLE DROP COLUMN without rewriting data: a version-stamped
    * `drop` entry hides the column from every live read; pre-drop
    * snapshots (AS OF < the ALTER's version) still serve it. The name is
    * retired permanently (see [[addColumn]]). Refuses while pending
    * equality deletes reference the column (their semantics would become
    * unevaluable) and withdraws the verified-sort claim + zone manifest
    * when the sort column itself is dropped (absence ⇒ scan, sound).
    */
  def dropColumn(dir: String, name: String): Unit = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    requireNoBranches(d, "drop-column")
    val cur = currentSchema(dir)
    val segs = name.split('.').toSeq
    if (segs.length > 1) {
      // nested drop (r20): the dotted path is retired forever, same
      // rule as top level — name-based nested resolution would
      // resurrect pre-drop bytes on a re-add
      val parent = AvroFileSource.navStruct(cur, segs.init,
        s"graft-avro drop-column '$name'")
      require(parent.fieldNames.contains(segs.last),
        s"graft-avro drop-column: no field '$name' " +
          s"(parent has ${parent.fieldNames.mkString(",")})")
      require(parent.fields.length >= 2,
        s"graft-avro drop-column: cannot drop the last field of " +
          s"struct '${segs.init.mkString(".")}'")
    } else {
    require(cur.fieldNames.contains(name),
      s"graft-avro drop-column: no column '$name' in " +
        cur.fieldNames.mkString(","))
    require(cur.fields.length >= 2,
      "graft-avro drop-column: cannot drop the last column")
    }
    require(!AvroFileSource.deleteFile(d).isFile ||
      !new String(java.nio.file.Files.readAllBytes(
        AvroFileSource.deleteFile(d).toPath), "UTF-8")
        .linesIterator.exists(_.startsWith(
          java.net.URLEncoder.encode(name, "UTF-8") + "\t")),
      s"graft-avro drop-column: pending equality deletes reference " +
        s"'$name' — compact first")
    require(!AvroFileSource.listPartitioned(d)
      .flatMap(_._2.keys).contains(name),
      s"graft-avro drop-column: '$name' is a partition column — " +
        "file layout depends on it")
    AvroFileSource.appendSnapshot(d, "drop-column", force = true)
    val v = AvroFileSource.readSnapshots(d).last.version
    AvroFileSource.appendEvo(d, v, "drop", name)
    // dropping ANY column of a compound sort claim withdraws it (the
    // remaining columns' lexicographic order is only guaranteed for
    // prefixes, and a dropped head breaks the tail)
    if (AvroFileSource.sortedColumnsOf(d).contains(name)) {
      AvroFileSource.sortMarker(d).delete()
      AvroFileSource.zoneFile(d).delete()
      ()
    }
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE — metadata-only type WIDENING along
    * Avro's own resolution promotions (int→long, int→double,
    * long→double, float→double): a version-stamped `widen` entry
    * changes the inferred type; old files keep their narrow bytes and
    * promote at decode (the reader keeps the writer's field type,
    * [[AvroFileSource.resolveReader]]'s pruneTo — "promotions finish at
    * decode"); files written afterwards carry the wide type natively,
    * and inference's newest-file-wins merge plus the journal override
    * agree on the result. Narrowing is refused (bytes would truncate).
    * Typed sidecars stay sound by construction: all-column zones and
    * blooms DROP entries whose recorded type mismatches the read type
    * (absence ⇒ scan); the sort-zone manifest's stringified bounds
    * parse under the wider type exactly. Pending equality deletes on
    * the column are refused (their recorded type would stop matching —
    * compact first); partition columns are refused (directory values
    * are layout).
    */
  def widenColumn(dir: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    requireNoBranches(d, "widen-column")
    val cur = currentSchema(dir)
    val f = cur.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"graft-avro widen-column: no column '$name' in " +
          cur.fieldNames.mkString(",")))
    val ok = (f.dataType, newType) match {
      case (IntegerType, LongType | DoubleType) => true
      case (LongType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"graft-avro widen-column: ${f.dataType.simpleString} -> " +
      s"${newType.simpleString} is not an Avro resolution promotion " +
      "(int->long, int->double, long->double, float->double)")
    require(!AvroFileSource.deleteFile(d).isFile ||
      !new String(java.nio.file.Files.readAllBytes(
        AvroFileSource.deleteFile(d).toPath), "UTF-8")
        .linesIterator.exists(_.startsWith(
          java.net.URLEncoder.encode(name, "UTF-8") + "\t")),
      s"graft-avro widen-column: pending equality deletes reference " +
        s"'$name' — compact first")
    require(!AvroFileSource.listPartitioned(d)
      .flatMap(_._2.keys).contains(name),
      s"graft-avro widen-column: '$name' is a partition column — " +
        "directory values are typed layout")
    AvroFileSource.appendSnapshot(d, "widen-column", force = true)
    val v = AvroFileSource.readSnapshots(d).last.version
    AvroFileSource.appendEvo(d, v, "widen",
      StructType(Seq(StructField(name, newType))).json)
    }
  }

  /** IN-PLACE bin-pack compaction: rewrite the table into
    * ceil(bytes/targetBytes) files in its OWN directory through the
    * normal transactional overwrite — pending equality AND positional
    * deletes apply on the read side and clear physically, the replaced
    * generation archives (time travel intact), and a fresh all-column
    * zone manifest rides the commit. The read is `localCheckpoint`ed
    * EAGERLY first: a lazy plan would still be scanning the directory
    * while the overwrite replaces it. Returns the file count written.
    * (compactTo remains the to-a-new-directory variant for
    * reader-isolation swaps.)
    */
  def compactInPlace(spark: SparkSession, dir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"target bytes $targetBytes")
    val bytes = listBytes(dir)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // preserve the Hive-style layout: the partition spec is the union
    // of existing k=v segments (partition values also live in the
    // files, so the rewrite can re-derive the directories) — without
    // this, compacting a partitioned table would silently flatten it
    // and permanently degrade pruning and SPJ. Hash-bucket segments
    // (`<col>_bucket=`) are NOT identity columns: they re-derive from
    // the sidecar spec and are re-routed by the bucketed writer.
    val dirF = new java.io.File(dir)
    val bucketSpec = AvroFileSource.readBucketSpec(dirF)
    val bucketSegs = bucketSpec
      .map { case (c, _) => AvroFileSource.bucketSegName(c) }.toSet
    val xformSpec = AvroTransforms.read(dirF)
    val xformSegs = xformSpec.map(_.segName).toSet
    val partCols = AvroFileSource.listPartitioned(dirF)
      .flatMap(_._2.keys).distinct.filterNot(bucketSegs)
      .filterNot(xformSegs)
    import org.apache.spark.sql.{functions => F}
    val red = spark.read.format("graft-avro").load(dir)
    // co-locate by the bucket ORDINAL, not the bucket column: clustering
    // by the raw column would spread each bucket over many tasks and
    // fan out to tasks × N files — the opposite of compaction
    if (bucketSpec.nonEmpty)
      graft.functions.VectorFunctions.register(spark)
    val clusterCols = partCols.map(F.col) ++
      bucketSpec.map { case (c, bn) =>
        F.call_function("graft_bucket", F.col(c), F.lit(bn)) } ++
      // transform segments co-locate by ANY deterministic proxy of the
      // transform value (the writer re-derives exact segments; equal
      // proxy ⇒ equal segment is all co-location needs)
      xformSpec.map(x => xformClusterExpr(red, x))
    val pinned = (if (clusterCols.nonEmpty)
      // co-locate each partition value in one task, or the write fans
      // out to (tasks x values) small files — the opposite of compaction
      red.repartition(n, clusterCols: _*)
    else red.repartition(n)).localCheckpoint(true)
    val w0 = pinned.write.format("graft-avro").mode("overwrite")
    val w1 =
      if (partCols.nonEmpty) w0.option("partitionBy", partCols.mkString(","))
      else w0
    val w2 =
      if (bucketSpec.nonEmpty)
        w1.option("bucketBy",
          bucketSpec.map { case (c, bn) => s"$c:$bn" }.mkString(","))
      else w1
    (if (xformSpec.nonEmpty)
      w2.option("transformBy", AvroTransforms.render(xformSpec))
    else w2).save(dir)
    n
  }

  /** Deterministic cluster proxy for a transform column: rows with
    * equal transform values map to one proxy value, so one task owns
    * each segment (equal-proxy ⇒ equal-segment is the only contract —
    * the proxy need not equal the segment value itself; session-tz
    * month/year grouping may SPLIT a UTC month across two proxies at
    * the boundary, costing at most one extra file, never corrupting
    * routing, which the writer re-derives exactly).
    */
  private def xformClusterExpr(df: org.apache.spark.sql.DataFrame,
      x: Xform): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{functions => F}
    val dt = df.schema(x.col).dataType
    x.kind match {
      case "trunc" if dt == StringType =>
        F.substring(F.col(x.col), 1, x.arg)
      case "trunc" =>
        F.expr(s"`${x.col}` div ${x.arg}")
      case "day" | "hour" if dt == DateType =>
        F.col(x.col)
      case "day" =>
        F.expr(s"unix_micros(cast(`${x.col}` as timestamp)) " +
          "div 86400000000")
      case "hour" =>
        F.expr(s"unix_micros(cast(`${x.col}` as timestamp)) " +
          "div 3600000000")
      case "month" =>
        F.expr(s"year(`${x.col}`) * 12 + month(`${x.col}`)")
      case "year" =>
        F.expr(s"year(`${x.col}`)")
      case other => throw new IllegalArgumentException(
        s"graft-avro: unknown transform kind '$other'")
    }
  }

  /** DEEP CLONE (the Delta `CLONE` shape): copy the CURRENT snapshot's
    * data files into a fresh directory — byte-identical, no decode, no
    * rewrite — carrying every file-keyed statistics manifest verbatim
    * (all-column zones, blooms, row counts, NDV sketches: their keys
    * are relative paths, which the copy preserves), the verified-sort
    * claim + sort zones, the bucket spec (stamps rewritten to 1 — all
    * cloned files are version-1 files of the clone), writer-layout
    * properties, and CHECK constraints. The clone starts a FRESH
    * single-version journal: histories diverge from here, neither side
    * sees the other's commits. Loud refusals where flattening births
    * to version 1 would change row-level semantics: pending equality
    * or positional deletes (stamped entries would re-apply to files
    * they never governed — compact first), column renames and schema
    * evolution entries (their version stamps reference SOURCE history
    * — rewrite via compactTo), and live branches. Returns the file
    * count cloned.
    */
  def cloneTo(in: String, out: String): Int = {
    val src = new File(in)
    val dst = new File(out)
    // The whole source-side read (guards, listLive, file + manifest
    // copies) runs under the SOURCE commit lock: a deleteWhere landing
    // between the pending-deletes guard and the file copy would clone
    // resurrected rows, and a concurrent sorted append merging bounds
    // into _graft_zones before the manifest copy would hand the clone a
    // sort-zone manifest covering a file it doesn't have. cloneTo runs
    // no graft-avro write job, so the never-wrap-a-write-job rule does
    // not apply; the dest lock nests inside (different dir = different
    // lock, taken strictly after — no cycle).
    AvroFileSource.withCommitLock(src) {
    require(!AvroFileSource.deleteFile(src).isFile,
      "graft-avro clone: pending equality deletes — compact first " +
        "(cloned files get fresh births; stamped entries would " +
        "re-apply to rows they never governed)")
    require(!AvroFileSource.posdelFile(src).isFile,
      "graft-avro clone: pending positional deletes — compact first")
    require(!AvroFileSource.colmapFile(src).isFile,
      "graft-avro clone: column-rename views reference source history " +
        "— rewrite via compactTo")
    require(!AvroFileSource.evoFile(src).isFile,
      "graft-avro clone: schema-evolution entries reference source " +
        "history — rewrite via compactTo")
    require(!AvroFileSource.branchesDir(src).isDirectory ||
      AvroFileSource.branchesDir(src).listFiles().forall(!_.isDirectory),
      "graft-avro clone: publish or drop branches first")
    require(!dst.exists() ||
      AvroFileSource.listAvro(dst).isEmpty &&
        !AvroFileSource.snapshotsFile(dst).isFile,
      s"graft-avro clone: target $out is not empty")
    val live = AvroFileSource.listLive(src)
    val base = src.getAbsoluteFile.toPath
    import java.nio.file.{Files => JF, StandardCopyOption}
    dst.mkdirs()
    live.foreach { case (f, _) =>
      val rel = base.relativize(f.getAbsoluteFile.toPath).toString
      val t = new File(dst, rel)
      Option(t.getParentFile).foreach(_.mkdirs())
      JF.copy(f.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    // file-keyed stats manifests copy verbatim (relative keys preserved;
    // the commit-side alive-filter tolerates any stragglers)
    Seq(AvroFileSource.colZoneFile _, AvroFileSource.bloomFile _,
      AvroFileSource.rowsFile _, AvroFileSource.ndvFile _,
      AvroFileSource.zoneFile _, AvroFileSource.sortMarker _,
      AvroFileSource.blockIdxFile _,
      AvroFileSource.propsFile _, AvroFileSource.constraintsFile _)
      .foreach { ff =>
        val s = ff(src)
        if (s.isFile)
          JF.copy(s.toPath, ff(dst).toPath,
            StandardCopyOption.REPLACE_EXISTING)
      }
    // bucket spec: same layout, but the clone's files are all version-1
    // files — rewrite stamps so travel pruning works from the start
    val bspec = AvroFileSource.readBucketSpec(src)
    if (bspec.nonEmpty)
      AvroFileSource.writeBucketSpec(dst,
        bspec.map { case (c, n) => (c, n, 1L) })
    val xspec = AvroTransforms.read(src)
    if (xspec.nonEmpty)
      AvroTransforms.write(dst, xspec.map(x => (x, 1L)))
    AvroFileSource.withCommitLock(dst) {
      AvroFileSource.appendSnapshot(dst, "clone")
    }
    live.size
    }
  }

  /** PARTITION-SCOPED in-place compaction — the OPTIMIZE a 100 TB table
    * actually runs: rewrite ONE hive partition's files bin-packed,
    * leave every other partition's files untouched (their names, stats
    * entries, and sidecars survive verbatim). The rewrite reads the
    * partition through the normal pruned merge-on-read scan (equality
    * deletes materialize; positional deletes of the replaced files
    * drop at commit), `localCheckpoint`s eagerly (the same-directory
    * overwrite rule), and publishes through the STATIC partition
    * overwrite commit — which archives exactly the partition's live
    * files and fails loudly if any live file lacks the partition
    * segment (partition evolution: containment would be unprovable) or
    * a legacy unstamped equality delete exists. Returns the file count
    * written, 0 when the partition has no live files.
    */
  def compactPartition(spark: SparkSession, dir: String, col: String,
      value: Any, targetBytes: Long): Int = {
    require(targetBytes > 0, s"target bytes $targetBytes")
    require(value != null,
      "graft-avro compactPartition: the __null__ partition is not " +
        "addressable by equality — use compactInPlace")
    val d = new java.io.File(dir)
    val parts = AvroFileSource.listPartitioned(d)
    val bucketSpec = AvroFileSource.readBucketSpec(d)
    val bucketSegs = bucketSpec
      .map { case (c, _) => AvroFileSource.bucketSegName(c) }.toSet
    val xformSpec = AvroTransforms.read(d)
    val xformSegs = xformSpec.map(_.segName).toSet
    val partCols = parts.flatMap(_._2.keys).distinct.filterNot(bucketSegs)
      .filterNot(xformSegs)
    // `col` may name an identity partition column OR a transform
    // SEGMENT pseudo-column (`ts_day`, `name_trunc`, …): `CALL
    // system.compact_partition(t, 'ts_day', '20600')` is the OPTIMIZE
    // a days-partitioned table runs. Transform targets are addressed
    // by the transform VALUE (the segment string), matched via the
    // `_graft_file` metadata column — no per-kind SQL needed.
    val asXform = xformSegs.contains(col)
    // validation ORDER matters: identity-column membership first (a
    // typo'd or bucket-segment name must not read as "partition
    // evolution" or silently no-op on an empty target), then the
    // commit-time evolution guard pre-flight, then the empty-target
    // early return
    require(asXform || partCols.contains(col),
      s"graft-avro compactPartition: '$col' is not an identity " +
        "partition column or transform segment of this table")
    // pre-flight the commit-time guard: a segment-less live file would
    // contribute rows to the read, then fail the publish — refuse
    // BEFORE any work instead
    require(parts.forall(_._2.contains(col)),
      s"graft-avro compactPartition: a live file lacks a '$col=' " +
        "segment (partition evolution) — run a full compactInPlace")
    val enc0 = java.net.URLEncoder.encode(value.toString, "UTF-8")
    val seg = if (enc0 == "__null__") "%5F_null__" else enc0
    val targets = parts.collect {
      case (f, vals) if vals.get(col).contains(seg) => f
    }
    if (targets.isEmpty) return 0
    val bytes = targets.map(_.length()).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    import org.apache.spark.sql.{functions => F}
    if (bucketSpec.nonEmpty)
      graft.functions.VectorFunctions.register(spark)
    val red = spark.read.format("graft-avro").load(dir)
    val clusterCols = partCols.map(F.col) ++
      bucketSpec.map { case (c, bn) =>
        F.call_function("graft_bucket", F.col(c), F.lit(bn)) } ++
      xformSpec.map(x => xformClusterExpr(red, x))
    val filtered =
      if (asXform) {
        // restrict to the target segment's files by table-relative
        // path (the `_graft_file` metadata column — the row-level
        // group-filter precedent); a transform value is not a column,
        // so equality on the raw column can't express it
        val base = d.getAbsoluteFile.toPath
        val rels = targets.map(f =>
          base.relativize(f.getAbsoluteFile.toPath).toString)
        red.filter(F.col(AvroFileSource.MetaFile).isin(rels: _*))
          .drop(AvroFileSource.MetaFile)
      } else red.filter(F.col(col) === value)
    val pinned = filtered.repartition(n, clusterCols: _*)
      .localCheckpoint(true)
    val w0 = pinned.write.format("graft-avro").mode("overwrite")
      .option("overwritePartition", s"$col\t${value.toString}")
    val w1 =
      if (partCols.nonEmpty) w0.option("partitionBy", partCols.mkString(","))
      else w0
    val w2 =
      if (bucketSpec.nonEmpty)
        w1.option("bucketBy",
          bucketSpec.map { case (c, bn) => s"$c:$bn" }.mkString(","))
      else w1
    (if (xformSpec.nonEmpty)
      w2.option("transformBy", AvroTransforms.render(xformSpec))
    else w2).save(dir)
    n
  }

  /** Add a table-level CHECK constraint (Delta-parity): validates the
    * EXISTING data first (zero definitely-false rows — null passes, SQL
    * CHECK semantics), then records `name -> expr` in the
    * `_graft_constraints` sidecar. Every subsequent batch/streaming
    * write — including branch staging and row-level-op rewrites —
    * validates each row before it reaches a file; a violation fails the
    * task and the transactional commit leaves the table untouched.
    */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      expr: String): Unit = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n'),
      s"graft-avro constraint: bad name '$name'")
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val existing = AvroFileSource.readConstraints(d)
    require(!existing.exists(_._1 == name),
      s"graft-avro constraint: '$name' already exists")
    if (AvroFileSource.listAvro(d).nonEmpty) {
      import org.apache.spark.sql.{functions => F}
      val violations = spark.read.format("graft-avro").load(dir)
        .filter(F.expr(s"($expr) <=> false")).limit(1).count()
      require(violations == 0L,
        s"graft-avro constraint '$name': existing rows violate ($expr)")
    }
    AvroFileSource.writeConstraints(d, existing :+ (name -> expr))
    }
  }

  /** Audit every CHECK constraint against the CURRENT data in ONE
    * distributed pass (r20) — the read-side counterpart of write-time
    * enforcement, for rows that entered WITHOUT passing a writer:
    * `add_files` adopts foreign containers byte-untouched, so imported
    * rows were never policed. Returns (name, violating-row count) per
    * constraint under SQL CHECK semantics (a row violates iff the
    * expression IS FALSE; NULL passes). Read-only — no lock, no
    * version minted; the caller decides whether to deleteWhere /
    * compact the offenders or drop the constraint.
    */
  def validateConstraints(spark: SparkSession, dir: String)
      : Seq[(String, Long)] = {
    val d = new File(dir)
    val cs = AvroFileSource.readConstraints(d)
    if (cs.isEmpty) return Nil
    if (AvroFileSource.listAvro(d).isEmpty) return cs.map(_._1 -> 0L)
    import org.apache.spark.sql.{functions => F}
    val df = spark.read.format("graft-avro").load(dir)
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      F.sum(F.when(F.expr(s"($e) <=> false"), 1L).otherwise(0L))
        .as(s"v$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** Remove a CHECK constraint; future writes stop validating it. */
  def dropConstraint(dir: String, name: String): Unit = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    val existing = AvroFileSource.readConstraints(d)
    require(existing.exists(_._1 == name),
      s"graft-avro constraint: no constraint '$name' to drop")
    AvroFileSource.writeConstraints(d, existing.filterNot(_._1 == name))
    }
  }

  /** ROLLBACK to an earlier snapshot version as a NEW version (Iceberg's
    * rollback semantics: history is append-only, the journal gains a
    * `rollback` entry whose state equals version `v`). Purely physical
    * restore — archived files of `v` move back live, live files not in
    * `v` archive out, and the equality-delete sidecar reverts to the
    * snapshot's recorded content. Derived per-file statistics manifests
    * (sort marker, zone maps, blooms, row counts, NDV) are DELETED
    * rather than rewound: their lifecycle tracks commits, not arbitrary
    * file moves, and absence only degrades pruning, never correctness
    * (rebuild via compact/OPTIMIZE). Schema evolution entries are NOT
    * rolled back — like Iceberg, rollback restores data state, the
    * current schema stays current. Both delete sidecars (equality AND
    * positional — journaled per version since r16) revert to the
    * snapshot's recorded content. Refuses with a LEGACY unjournaled
    * posdel overlay pending or active branches.
    * Returns the newly minted version.
    */
  def rollbackTo(dir: String, version: Long): Long = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
    requireNoBranches(d, "rollback")
    val snaps = AvroFileSource.readSnapshots(d)
    // positional deletes journal per version since r16 and revert with
    // the rest of the state below; only a LEGACY (unjournaled) overlay
    // refuses — its arrival versions are unknowable
    require(AvroFileSource.posdelContent(d) ==
        snaps.lastOption.flatMap(_.posdels),
      "graft-avro rollback: UNJOURNALED positional deletes are pending " +
        "(a legacy overlay predating posdel journaling) — compact first")
    val target = snaps.find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"graft-avro rollback: unknown version $version " +
          s"(have ${snaps.map(_.version).mkString(", ")})"))
    require(version != snaps.last.version,
      s"graft-avro rollback: $version is already the current version")
    val base = d.getAbsoluteFile.toPath
    val live = AvroFileSource.listAvro(d)
      .map(f => base.relativize(f.getAbsoluteFile.toPath).toString).toSet
    val want = target.files.toSet
    // restore first, retire second: a crash mid-way leaves a superset of
    // both versions on disk — readable — never a half-missing table
    (want -- live).toSeq.sorted.foreach { rel =>
      val src = new File(AvroFileSource.archiveDir(d), rel)
      if (!src.isFile) throw new IllegalStateException(
        s"graft-avro rollback: file '$rel' of version $version was " +
          "vacuumed (expireSnapshots) — cannot restore")
      val dst = new File(d, rel)
      dst.getParentFile.mkdirs()
      if (dst.exists()) throw new java.io.IOException(
        s"graft-avro rollback: live collision $dst")
      if (!src.renameTo(dst)) throw new java.io.IOException(
        s"graft-avro rollback: restore failed $src -> $dst")
    }
    (live -- want).toSeq.sorted.foreach { rel =>
      val src = new File(d, rel)
      val dst = new File(AvroFileSource.archiveDir(d), rel)
      dst.getParentFile.mkdirs()
      if (dst.exists()) throw new java.io.IOException(
        s"graft-avro rollback: archive collision $dst")
      if (!src.renameTo(dst)) throw new java.io.IOException(
        s"graft-avro rollback: archive move failed $src -> $dst")
      AvroFileSource.stampArchived(dst)
    }
    // delete sidecars (both flavors) revert to the snapshot's content
    def revert(f: File, content: Option[String]): Unit = content match {
      case Some(c) =>
        val tmp = new File(f.getPath + ".staging")
        java.nio.file.Files.write(tmp.toPath, c.getBytes("UTF-8"))
        if (!tmp.renameTo(f)) throw new java.io.IOException(
          s"graft-avro rollback: rename failed $tmp -> $f")
      case None => f.delete(); ()
    }
    revert(AvroFileSource.deleteFile(d), target.deletes)
    revert(AvroFileSource.posdelFile(d), target.posdels)
    // stats/layout manifests describe the pre-rollback live set — drop
    // them all (absence ⇒ scan); partial coverage of the sort-zone
    // manifest in particular would be UNSOUND for metadata MIN/MAX
    Seq(AvroFileSource.sortMarker(d), AvroFileSource.zoneFile(d),
      AvroFileSource.colZoneFile(d), AvroFileSource.bloomFile(d),
      AvroFileSource.rowsFile(d), AvroFileSource.ndvFile(d),
      AvroFileSource.blockIdxFile(d))
      .foreach(_.delete())
    AvroFileSource.appendSnapshot(d, "rollback", force = true)
    AvroFileSource.readSnapshots(d).last.version
    }
  }

  /** `files` METADATA TABLE (the Iceberg `table$files` analogue): one row
    * per live data file — relative path, the hive partition prefix (""
    * for flat files), on-disk bytes, and the PHYSICAL record count read
    * from the container block headers (zero rows decoded; pending
    * equality deletes are merge-on-read and do NOT reduce these counts).
    * The listing is driver-side metadata — same as planning — but the
    * per-file header walk is DISTRIBUTED over executors, so a
    * million-file table inspects at cluster speed, not driver speed.
    */
  def filesTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = new File(dir).getAbsoluteFile.toPath
    val rels = AvroFileSource.listPartitioned(new File(dir)).map {
      case (f, _) => base.relativize(f.getAbsoluteFile.toPath).toString
    }
    val root = base.toString
    val slices = math.max(1, math.min(rels.size, 32))
    spark.createDataset(rels).repartition(slices)
      .mapPartitions { it =>
        it.map { rel =>
          val f = new File(root, rel)
          val r = new org.apache.avro.file.DataFileReader(f,
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          var n = 0L
          try while (r.hasNext) { n += r.getBlockCount; r.nextBlock() }
          finally r.close()
          // surface DECODED partition values (the writer URL-encodes
          // segment values; `__null__` is the null marker, kept verbatim)
          val part = rel.split('/').dropRight(1).map { seg =>
            seg.split("=", 2) match {
              case Array(k, v) if v != "__null__" =>
                k + "=" + java.net.URLDecoder.decode(v, "UTF-8")
              case _ => seg
            }
          }.mkString("/")
          (rel, part, f.length(), n)
        }
      }
      .toDF("rel", "part", "bytes", "n_records")
  }

  /** ANALYZE: backfill the pruning/statistics manifests for existing
    * data — the unlock for tables that predate the stats writers (or
    * were assembled via add_files) to get zone pruning, zone-decided
    * pushdown, metadata-served MIN/MAX/SUM/COUNT, CBO bounds, and
    * (opt-in) bloom/NDV skipping WITHOUT rewriting a byte. One
    * distributed pass: each task decodes its files through the same
    * per-file builders the write path uses (ColumnStats / BloomBuilder
    * / NdvBuilder over each file's OWN writer schema — identical
    * entries, identical type tags, identical truncation/NaN/overflow
    * rules), and the driver folds the results into the manifests under
    * the commit lock exactly like a batch commit. Counts are PHYSICAL
    * (the raw file contents, like the writer's), so analyze is
    * delete-agnostic — the read-side guards keep governing how deletes
    * interact with metadata answers. Concurrent commits are safe: the
    * fold is alive-filtered, and files that appear after the scan are
    * simply not covered (absence ⇒ scan). Returns the file count.
    */
  def analyze(spark: SparkSession, dir: String,
      bloomFor: Seq[String] = Nil, ndvFor: Seq[String] = Nil,
      trigramFor: Seq[String] = Nil,
      blockIdxFor: Option[String] = None,
      chunkBloomFor: Seq[String] = Nil,
      chunkTrigramFor: Seq[String] = Nil): Int = {
    import spark.implicits._
    require(chunkBloomFor.isEmpty || blockIdxFor.exists(_.trim.nonEmpty),
      "graft-avro analyze: chunk_bloom_for rides the block index's " +
        "chunk frame — pass block_index_for too")
    require(chunkTrigramFor.isEmpty || blockIdxFor.exists(_.trim.nonEmpty),
      "graft-avro analyze: chunk_trigram_for rides the block index's " +
        "chunk frame — pass block_index_for too")
    val d = new File(dir)
    // validate chunk-cell columns LOUDLY against the LIVE inferred
    // schema (a typo'd CALL used to backfill nothing and report
    // success); the per-file .filter(top) below stays as
    // schema-evolution tolerance for files that predate a column
    if (chunkBloomFor.nonEmpty || chunkTrigramFor.nonEmpty) {
      val live = spark.read.format("graft-avro").load(dir).schema
      chunkBloomFor.foreach { c =>
        val f = live.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft-avro analyze: chunk_bloom_for column '$c' not in " +
              "the table schema"))
        require(AvroFileSource.bloomableType(f.dataType),
          s"graft-avro analyze: chunk_bloom_for does not support " +
            s"${f.dataType.simpleString} (column '$c')")
      }
      chunkTrigramFor.foreach { c =>
        val f = live.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft-avro analyze: chunk_trigram_for column '$c' not in " +
              "the table schema"))
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"graft-avro analyze: chunk_trigram_for only supports string " +
            s"columns (column '$c' is ${f.dataType.simpleString})")
      }
    }
    val base = d.getAbsoluteFile.toPath
    val rels = AvroFileSource.listLive(d).map { case (f, _) =>
      base.relativize(f.getAbsoluteFile.toPath).toString
    }
    if (rels.isEmpty) return 0
    val root = base.toString
    val (bf, nf, tf) = (bloomFor, ndvFor, trigramFor)
    val cbf = chunkBloomFor
    val ctf = chunkTrigramFor
    // comma list (r19): the write path indexes EVERY sort column per
    // chunk; the backfill now matches — one sidecar line per (col,
    // chunk), shared boundaries
    val bix = blockIdxFor.map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val slices = math.max(1, math.min(rels.size, 32))
    val perFile = spark.createDataset(rels).repartition(slices)
      .mapPartitions { it =>
        it.map { rel =>
          val f = new File(root, rel)
          val r = new org.apache.avro.file.DataFileReader(f,
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          try {
            val st = graft.avro.AvroSchemaConverter.toStruct(r.getSchema)
            val top = st.fieldNames.toSet
            val cs = new AvroWriters.ColumnStats(st)
            val bCols = bf.filter(top)
            val tCols = tf.filter(top)
            val nCols = nf.filter(top)
            val bb =
              if (bCols.nonEmpty || tCols.nonEmpty)
                new AvroWriters.BloomBuilder(st, bCols, tCols)
              else null
            val nb =
              if (nCols.nonEmpty) new AvroWriters.NdvBuilder(st, nCols)
              else null
            // block-index BACKFILL: per-CHUNK exact [min, max] of the
            // named columns, chunks cut at the file's OWN block
            // boundaries (previousSync = current block start, so the
            // −16 convention matches the writer and the split rule)
            // once BlockIdxRows rows accumulate. Unlike the write path,
            // no sortedness is needed — the tracked bounds are true
            // per-chunk min/max, sound for any layout (a Z-ordered or
            // clustered file regains intra-file skipping this way).
            // Columns without a sortable type are skipped (no total
            // order / NaN hazard).
            val bixIdx = bix.filter(top.contains).map(st.fieldIndex)
              .filter(i => AvroWriters.sortCmp(st.fields(i).dataType).nonEmpty)
              .toArray
            val bixDts = bixIdx.map(i => st.fields(i).dataType)
            // per-chunk bloom cells (chunk_bloom_for), cut in lockstep
            // with the zone chunks — membership skipping for clustered/
            // Z-ordered files without a rewrite
            val cbCols = cbf.filter(top).filter(c =>
              AvroFileSource.bloomableType(
                st.fields(st.fieldIndex(c)).dataType))
            val ctCols = ctf.filter(top).filter(c =>
              st.fields(st.fieldIndex(c)).dataType ==
                org.apache.spark.sql.types.StringType)
            val cbb =
              if ((cbCols.nonEmpty || ctCols.nonEmpty) && bixIdx.nonEmpty)
                new AvroWriters.ChunkBloomBuilder(st, cbCols, ctCols)
              else null
            val bi =
              if (bixIdx.isEmpty) null
              else new AvroWriters.BlockIndex(bixIdx.map(st.fields(_).name),
                bixDts, bixDts.map(AvroWriters.sortCmp(_).get), cbb)
            var n = 0L
            // fused record→InternalRow decode (r21): ColumnStats and the
            // block index run on internal values; the lazy external view
            // only feeds the bloom/NDV/chunk hashers
            val dec = graft.avro.AvroInternalCodec.decoderFor(r.getSchema, st)
            while (r.hasNext) {
              if (bi != null && bi.rows >= AvroFileSource.BlockIdxRows) {
                val bs = r.previousSync() - 16
                if (bs > bi.start) bi.cut(bs)
              }
              val ir = dec(r.next())
              cs.update(ir)
              if (bb != null || nb != null || cbb != null) {
                val view = graft.avro.AvroInternalCodec.externalView(ir, st)
                if (bb != null) bb.update(view)
                if (nb != null) nb.update(view)
                if (cbb != null) cbb.update(view)
              }
              if (bi != null)
                bi.track(Array.tabulate[Any](bixIdx.length) { j =>
                  if (ir.isNullAt(bixIdx(j))) null
                  else AvroWriters.copyInternal(ir.get(bixIdx(j), bixDts(j)))
                })
              n += 1
            }
            (rel, cs.stats,
              if (bb == null) Seq.empty[(String, String, String)]
              else bb.stats,
              if (nb == null) Seq.empty[(String, String, String)]
              else nb.stats,
              n,
              if (bi == null)
                Seq.empty[(String, String, Long, Long, String, String)]
              else bi.finish(f.length()))
          } finally r.close()
        }
      }.collect()
    val msgs = perFile.toSeq.map {
      case (rel, zones, blooms, ndvs, n, blockIdx) =>
        val fin = new File(root, rel).getPath
        AvroCommitMessage(Nil,
          colZones = if (zones.nonEmpty) Seq(fin -> zones) else Nil,
          blooms = if (blooms.nonEmpty) Seq(fin -> blooms) else Nil,
          rows = Seq(fin -> n),
          ndvs = if (ndvs.nonEmpty) Seq(fin -> ndvs) else Nil,
          blockIdx = if (blockIdx.nonEmpty) Seq(fin -> blockIdx) else Nil)
    }
    AvroFileSource.withCommitLock(d) {
      AvroFileSource.foldStatsManifests(d, msgs)
    }
    rels.size
  }

  /** Merge writer-layout properties into `_graft_props` for a PATH
    * table (the catalog route is ALTER TABLE SET TBLPROPERTIES). An
    * empty-string value removes the key.
    */
  def setTableProperties(dir: String, props: Map[String, String]): Unit = {
    val d = new File(dir)
    AvroFileSource.withCommitLock(d) {
      val merged = (AvroFileSource.readProps(d) ++ props)
        .filter(_._2.nonEmpty)
      AvroFileSource.writeProps(d, merged)
    }
  }

  /** On-disk bytes of the table's alive data files. */
  def listBytes(dir: String): Long =
    AvroFileSource.listAvro(new File(dir)).map(_.length()).sum

  /** Alive data-file count. */
  def dataFiles(dir: String): Int =
    AvroFileSource.listAvro(new File(dir)).size

  /** Bin-pack `in` into ceil(bytes / targetBytes) files at `out`,
    * applying any pending equality deletes (they ride the read).
    * Returns the file count written. The rewrite goes through the
    * standard batch commit, so `out` is transactionally published with a
    * fresh `_graft_zones_cols` manifest and NO delete sidecar. The sort
    * marker is not carried: repartitioning destroys per-file order, and
    * an unverified claim must never be stamped.
    */
  def compactTo(spark: SparkSession, in: String, out: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"target bytes $targetBytes")
    val bytes = listBytes(in)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.format("graft-avro").load(in)
      .repartition(n)
      .write.format("graft-avro").mode("overwrite").save(out)
    n
  }
}
