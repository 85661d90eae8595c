package graft.sources

import java.io.File
import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.avro.{AvroDirectDatumWriter, AvroInternalCodec, AvroSchemaConverter}

/** DataSource V2 source/sink for Avro CONTAINER FILES, built on the
  * engine's own Avro⇄Catalyst bridge (graft.avro) — the file-based
  * counterpart of the reference's per-record Kafka Connect surface
  * (AvroSql.scala:43-65 transforms single records; this reads/writes the
  * same data model as a Spark table):
  *
  * {{{
  *   df.write.format("graft-avro").mode("append").save(dir)  // or overwrite
  *   spark.read.format("graft-avro").load(dir)
  * }}}
  *
  * Scale design:
  * - one [[InputPartition]] per container file, and SYNC-MARKER SPLITS
  *   within files larger than `maxSplitBytes` (default 128 MB): Avro
  *   block boundaries are discoverable from any byte offset via the
  *   16-byte sync marker, so a huge file fans out as block-aligned byte
  *   ranges instead of pinning one task;
  * - COLUMN PRUNING pushes into the Avro decoder itself via
  *   [[SupportsPushDownRequiredColumns]]: the reader passes a pruned
  *   READER schema, and Avro's writer/reader schema resolution skips the
  *   unprojected fields during decode — unread columns cost no
  *   deserialization, the row-format analogue of parquet column pruning
  *   (filters intentionally stay in Spark: a row-oriented container has
  *   no column statistics to prune with);
  * - the writer emits one container file per task with a zstandard codec,
  *   schema derived through [[AvroSchemaConverter.toAvro]] (so Catalyst
  *   metadata → Avro logical types/doc/props round-trip).
  */
class AvroFileSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-avro"

  override def supportsExternalMetadata(): Boolean = true

  private def dir(options: CaseInsensitiveStringMap): File =
    new File(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-avro requires a path")))

  /** Latest-schema-wins inference with a nullability merge: the newest
    * file's writer schema defines the column set and order (dropped
    * columns disappear, like a table's current DDL), and any column that
    * an older file lacks — or writes nullable — is nullable in the table
    * view so drifted files can resolve it to null. Runs on every `load`
    * (and on every `load(dir).schema` inside deletes and merges) over
    * the version's file set: one stat per file, and the writer schemas
    * come from [[WriterSchemas]], so a JVM opens each data file's header
    * once, the first time any read meets it. Pass `.schema(...)` to pin
    * a different view or skip the sweep.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val d = dir(options)
    val travel = AvroFileSource.resolveTravelVersion(d,
      Option(options.get("versionAsOf")).map(_.toLong),
      Option(options.get("timestampAsOf")).map(_.toLong),
      Option(options.get("tagAsOf")))
    val inc = AvroFileSource.resolveIncremental(d,
      Option(options.get("fromVersion")).map(_.toLong),
      Option(options.get("toVersion")).map(_.toLong))
    require(travel.isEmpty || inc.isEmpty,
      "graft-avro: versionAsOf/timestampAsOf and fromVersion are exclusive")
    val branch = Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)
    require(branch.isEmpty || (travel.isEmpty && inc.isEmpty),
      "graft-avro: branch is exclusive with time travel / incremental reads")
    val files = (travel, inc) match {
      case (Some(v), _) =>
        // a snapshot's schema is inferred over ITS file set — an
        // overwrite that changed the schema must not leak the new
        // column set into a pre-overwrite version
        AvroFileSource.readSnapshots(d).find(_.version == v).get.files
          .map(AvroFileSource.resolveSnapshotFile(d, _))
      case (None, Some((f, t))) =>
        AvroFileSource.incrementalFiles(d, f, t)
          .map(AvroFileSource.resolveSnapshotFile(d, _))
      case _ => branch match {
        case Some(b) =>
          // branch view = main's fork snapshot + the overlay's live
          // files; overlay files sort newest so a drifted branch schema
          // wins, with the usual nullability merge
          val (forkV, bd) = AvroFileSource.branchFork(d, b)
          AvroFileSource.readSnapshots(d).find(_.version == forkV)
            .getOrElse(throw new IllegalStateException(
              s"graft-avro: branch '$b' fork version $forkV vanished"))
            .files.map(AvroFileSource.resolveSnapshotFile(d, _)) ++
            AvroFileSource.listAvro(bd)
        // live schema: same journal-served listing as scan planning, so
        // inference and planning always agree on the file set
        case None => AvroFileSource.listLive(d).map(_._1)
      }
    }
    require(files.nonEmpty, s"no .avro files under ${dir(options)}")
    // column renames surface per file BEFORE the merge: a rename applies
    // to files born before its version, so an old file's historical name
    // and a new file's current name align into one column (and a
    // re-added old name stays a separate, new column)
    val renames = AvroFileSource.readColmap(d)
    val births: Map[String, Long] =
      if (renames.isEmpty) Map.empty else AvroFileSource.fileBirths(d)
    def renamedStruct(f: File, st: StructType): StructType =
      if (renames.isEmpty) st
      else {
        val b = births.getOrElse(AvroFileSource.logicalRel(d, f), 0L)
        StructType(st.fields.map { fld =>
          val nn = renames.foldLeft(fld.name) { case (n, (v, from, to)) =>
            if (b < v && n == from) to else n
          }
          if (nn == fld.name) fld else fld.copy(name = nn)
        })
      }
    // name tie-break: two write batches can land in the same lastModified
    // millisecond, and listing order must not decide which schema "wins"
    val structs = files.map(f => f -> WriterSchemas.of(f))
      .sortBy { case (f, h) => (h.millis, f.getName) }
      .map { case (f, h) => renamedStruct(f, h.struct) }
      .distinct
    val base = structs.last
    val merged =
      if (structs.size == 1) base
      else
        StructType(base.fields.map { f =>
          val relaxed = structs.exists(st => st.fields.find(_.name == f.name)
            .forall(_.nullable))
          if (relaxed && !f.nullable) f.copy(nullable = true) else f
        })
    // ALTER TABLE column evolution rides on top of file inference:
    // ADD appends a nullable column the files don't carry yet, DROP
    // hides a retired one. Time travel / incremental reads apply only
    // the entries in force at their upper version (an ALTER mints its
    // own journal version). Branch reads apply everything — evolution
    // ops refuse to run while branches exist, so every entry predates
    // the fork.
    val evolved = AvroFileSource.applyEvo(d, merged,
      travel.orElse(inc.map(_._2)))
    // CDC change feed (`readChangeFeed=true`, batch or streaming): the
    // row set is the data schema plus the change metadata every CDC
    // consumer keys on — Delta's column names, for familiarity
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      require(travel.isEmpty && inc.isEmpty && branch.isEmpty,
        "graft-avro: readChangeFeed is exclusive with time travel / " +
          "incremental / branch reads")
      StructType(evolved.fields.toSeq ++ Seq(
        org.apache.spark.sql.types.StructField(
          AvroFileSource.CdcChangeType, StringType, nullable = false),
        org.apache.spark.sql.types.StructField(
          AvroFileSource.CdcCommitVersion, LongType, nullable = false)))
    } else evolved
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    AvroTable(properties.get("path"), schema)
}

object AvroFileSource {
  /** Default split granularity for large container files (the usual
    * HDFS-block-sized value Spark uses for file sources); override per
    * read with `.option("maxSplitBytes", n)`.
    */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** Metadata-column names (see [[AvroTable.metadataColumns]]). */
  val MetaFile = "_graft_file"
  val MetaPos = "_graft_pos"

  /** CDC change-feed column names (Delta's, for familiarity). */
  val CdcChangeType = "_change_type"
  val CdcCommitVersion = "_commit_version"

  /** Rows per [[org.apache.spark.sql.vectorized.ColumnarBatch]] on the
    * vectorized decode path (Spark's own parquet reader default).
    */
  val ColumnarBatchRows = 4096

  /** Default container codec for every write path. zstandard (zstd-jni
    * ships on the Spark classpath): measured vs deflate it both
    * compresses faster at write AND decompresses ~3× faster at scan —
    * under deflate the per-core decode ceiling is the Inflater, which
    * masked the vectorized reader's win entirely (r13 A/B: 0.94–1.17×
    * deflate vs 1.31× zstd, see OPERATORS.md). Readers always honor
    * the codec recorded in each file's metadata, so mixed-codec
    * directories read fine and the change is not a format break.
    */
  val DefaultCodec = "zstandard"

  def listAvro(d: File): Seq[File] =
    listPartitioned(d).map(_._1)

  /** Marker file claiming every `.avro` file in the directory is
    * internally sorted (ascending, nulls first) by the named column —
    * stamped only by write jobs that VERIFIED the order row-by-row.
    */
  def sortMarker(d: File): File = new File(d, "_graft_sorted_by")

  /** Declarative writer-layout properties (`_graft_props`, `k TAB v`
    * URL-encoded lines): table-level defaults for the per-write options
    * — `graft.sortedBy`, `graft.requestSort`, `graft.bloomFor`,
    * `graft.ndvFor`, `graft.trigramFor`, `graft.codec` — so SQL INSERTs
    * (which cannot pass writer options) still get the declared layout.
    * An explicit write option always overrides the property. Set via
    * CREATE TABLE TBLPROPERTIES / ALTER TABLE SET TBLPROPERTIES on the
    * catalog, or [[AvroMaintenance.setTableProperties]] on a path.
    */
  def propsFile(d: File): File = new File(d, "_graft_props")

  /** Writer-layout property keys the engine understands. */
  val KnownProps: Set[String] = Set("graft.sortedBy", "graft.requestSort",
    "graft.bloomFor", "graft.ndvFor", "graft.trigramFor", "graft.codec",
    "graft.targetFileBytes", "graft.bucketBy", "graft.transformBy",
    "graft.preservePartitioning", "graft.chunkBloomFor",
    "graft.chunkTrigramFor")

  def readProps(d: File): Map[String, String] = {
    val f = propsFile(d)
    if (!f.isFile) return Map.empty
    try {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap { line =>
        line.split('\t') match {
          case Array(k, v) =>
            Some(java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
      finally src.close()
    } catch { case _: Exception => Map.empty }
  }

  def writeProps(d: File, props: Map[String, String]): Unit = {
    val unknown = props.keys.filter(k =>
      k.startsWith("graft.") && !KnownProps.contains(k))
    require(unknown.isEmpty,
      s"graft-avro: unknown writer-layout propert${
        if (unknown.size == 1) "y" else "ies"} ${unknown.mkString(", ")} " +
        s"(known: ${KnownProps.toSeq.sorted.mkString(", ")})")
    val f = propsFile(d)
    if (props.isEmpty) { f.delete(); return }
    val tmp = new File(f.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      props.toSeq.sorted.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "\t" +
          java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("\n").getBytes("UTF-8"))
    if (!tmp.renameTo(f)) throw new java.io.IOException(
      s"graft-avro: rename failed $tmp -> $f")
  }

  // ---- hash-bucket layout (hidden partitioning, the Iceberg
  // `bucket(N, col)` transform): rows route to `<col>_bucket=<b>`
  // directory segments, `b = bucketOf(canonicalString, N)`. The spec
  // (col → N) lives in the `_graft_bucket` sidecar — immutable per
  // column once defined (mixed-N segments would make filter→bucket
  // resolution ambiguous), replaced wholesale by a truncate. Equality
  // and IN filters (pushed or runtime join-key sets) prune to the
  // literal's bucket; files WITHOUT the segment (pre-bucket data,
  // partition evolution) are always kept. Under `preservePartitioning`
  // the scan reports `bucket(N, col)` KeyGroupedPartitioning keys, so
  // two co-bucketed tables join shuffle-free (SPJ) via the catalog's
  // `bucket` function (GraftCatalog is a FunctionCatalog).
  def bucketFile(d: File): File = new File(d, "_graft_bucket")

  /** Directory-segment pseudo-column for a bucketed column. */
  def bucketSegName(c: String): String = c + "_bucket"

  /** Deterministic bucket of a column value's CANONICAL string (the
    * same `v.toString` of the external value that identity partition
    * segments use; dates are ISO `LocalDate` strings). Delegates to
    * [[graft.functions.BucketHash]] — the single implementation shared
    * by the writer (routing), the scan (filter literal → target
    * bucket), the catalog's SPJ `bucket` function, and the
    * `graft_bucket` SQL expression.
    */
  def bucketOf(canonical: String, n: Int): Int =
    graft.functions.BucketHash.bucket(canonical, n)

  /** Canonical string identity of an EXTERNAL value for bloom/bucket
    * hashing (r20): plain toString for string/integral/boolean, ISO
    * LocalDate for dates, and scale-normalized plain form for decimals
    * (stripTrailingZeros.toPlainString — writer values and filter
    * literals may carry different scales for the same numeric value;
    * SQL decimal equality is numeric, so the identity must be too).
    * Writer routing, bloom adds, probe keys, and the SPJ/SQL bucket
    * functions all funnel here or through [[graft.functions.BucketHash]]
    * — keep them in lockstep.
    */
  private[sources] def canonicalValue(v: Any): String = v match {
    case d: java.math.BigDecimal =>
      graft.functions.BucketHash.decimalCanonical(d)
    case d: scala.math.BigDecimal =>
      graft.functions.BucketHash.decimalCanonical(d.bigDecimal)
    case d: org.apache.spark.sql.types.Decimal =>
      graft.functions.BucketHash.decimalCanonical(d.toJavaBigDecimal)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    // timestamps (r20): canonical = epoch MICROS decimal string —
    // TZ-independent (java.sql.Timestamp / Instant wrap an absolute
    // instant; NTZ LocalDateTime maps at UTC, matching Spark's NTZ
    // internal micros)
    case t: java.sql.Timestamp => String.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant => String.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime => String.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(t))
    case x => String.valueOf(x)
  }

  /** Parse a `col:n[,col:n…]` bucket option string. */
  def parseBucketBy(s: String): Seq[(String, Int)] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(':') match {
        case Array(c, n) if c.trim.nonEmpty && n.trim.matches("[0-9]+") =>
          (c.trim, n.trim.toInt)
        case _ => throw new IllegalArgumentException(
          s"graft-avro: bad bucketBy entry '$part' — expected col:n")
      }
    }

  /** The directory's bucket spec, insertion-ordered. Malformed sidecar
    * → empty (pruning off is sound; SPJ declines).
    */
  def readBucketSpec(d: File): Seq[(String, Int)] =
    readBucketSpecStamped(d).map { case (c, n, _) => (c, n) }

  /** Spec entries with the journal version each column's bucketing was
    * ESTABLISHED at (the commit that first carried it). Stamp 0 =
    * legacy unstamped line: live reads only — a pre-stamp sidecar
    * cannot prove which spec held at a historical version. Stamped
    * entries make time-travel bucket pruning sound: the sidecar is
    * immutable per column and replaced wholesale by a truncate, so a
    * LIVE entry with `since <= v` is exactly the spec every
    * segment-bearing file of snapshot `v` was routed under (any
    * re-bucketing truncate between `v` and now would have replaced the
    * entry with a younger stamp).
    */
  def readBucketSpecStamped(d: File): Seq[(String, Int, Long)] = {
    val f = bucketFile(d)
    if (!f.isFile) return Nil
    try {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap { line =>
        line.split('\t') match {
          case Array(c, n) if n.matches("[0-9]+") =>
            Some((java.net.URLDecoder.decode(c, "UTF-8"), n.toInt, 0L))
          case Array(c, n, v) if n.matches("[0-9]+") &&
              v.matches("[0-9]+") =>
            Some((java.net.URLDecoder.decode(c, "UTF-8"), n.toInt, v.toLong))
          case _ => None
        }
      }.toSeq
      finally src.close()
    } catch { case _: Exception => Nil }
  }

  private[sources] def writeBucketSpec(d: File,
      spec: Seq[(String, Int, Long)]): Unit = {
    val f = bucketFile(d)
    if (spec.isEmpty) { f.delete(); return }
    val tmp = new File(f.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      spec.map { case (c, n, v) =>
        java.net.URLEncoder.encode(c, "UTF-8") + "\t" + n + "\t" + v
      }.mkString("\n").getBytes("UTF-8"))
    if (!tmp.renameTo(f)) throw new java.io.IOException(
      s"graft-avro: rename failed $tmp -> $f")
  }

  /** Merge a write's bucket spec into the sidecar under the commit
    * lock: a column already specced must agree on N (mixed-N segments
    * are ambiguous — refuse loudly); `replace` (truncate) installs the
    * write's spec wholesale. Fresh entries are stamped with the version
    * this commit will mint (called BEFORE appendSnapshot, same as the
    * delete-sidecar stamp) so historical reads can resolve them.
    */
  private[sources] def mergeBucketSpec(d: File, spec: Seq[(String, Int)],
      replace: Boolean): Unit = {
    lazy val stamp = readSnapshots(d).lastOption
      .map(_.version + 1).getOrElse(1L)
    if (replace) {
      // an overwrite that KEEPS a column's N preserves the original
      // establishing stamp: files before and after were all routed
      // under the same spec, so historical reads keep pruning (a
      // compaction must not degrade time-travel bucket pruning); a
      // CHANGED N is a true re-bucketing and stamps fresh
      val prior = readBucketSpecStamped(d)
        .map { case (c, n, v) => (c, n) -> v }.toMap
      writeBucketSpec(d, spec.map { case (c, n) =>
        (c, n, prior.get((c, n)).filter(_ >= 1L).getOrElse(stamp)) })
      return
    }
    if (spec.isEmpty) return
    val prior = readBucketSpecStamped(d)
    val priorMap = prior.map { case (c, n, _) => c -> n }.toMap
    spec.foreach { case (c, n) =>
      priorMap.get(c).foreach(pn => require(pn == n,
        s"graft-avro: bucketBy '$c:$n' conflicts with the table's " +
          s"established spec '$c:$pn' — a column's bucket count is " +
          "immutable (truncate to re-bucket)"))
    }
    val fresh = spec.filterNot(s => priorMap.contains(s._1))
      .map { case (c, n) => (c, n, stamp) }
    if (fresh.nonEmpty) writeBucketSpec(d, prior ++ fresh)
  }

  private[sources] def zoneEncode(v: Any): String =
    java.net.URLEncoder.encode(v.toString, "UTF-8")

  /** BLOCK-RANGE zone index ([[StatsManifests.BlockIdx]]): per-file,
    * per-CHUNK [min, max] of the column a verified `sortedBy` write
    * ordered the file by. A chunk is the rows between forced sync points
    * ([[BlockIdxRows]] apart), so each entry maps to a byte range the
    * split machinery serves directly (`-` bounds = all-null chunk,
    * kept, never pruned). Ranges are already −16-adjusted: a partition
    * [start, end) reads exactly the chunk's blocks under the reader's
    * sync/pastSync rule (a block belongs to the split containing
    * blockStart − 16). Pruning-only and
    * PER-FILE truth (a file's own chunk bounds hold whatever happens to
    * the table-level sort claim): partial coverage is sound, absence ⇒
    * normal split, a recorded type differing from the read type drops
    * the file's entries, and a file whose ranges no longer tile
    * [0, length) falls back whole. The 100 TB point: a selective
    * predicate on a sorted table opens the overlapping CHUNKS of the
    * overlapping files — block-level skipping INSIDE the file, the
    * parquet row-group analogue Avro containers otherwise lack.
    */
  def blockIdxFile(d: File): File = StatsManifests.BlockIdx.in(d)

  /** Rows per forced-sync chunk of the block index (sorted writes). */
  val BlockIdxRows = 4096

  /** Block-index lines whose type tag passes `keepTag`, keyed by
    * relative path, with typed byte ranges. Lines the filter rejects are
    * never retained. A malformed line drops alone: a dropped middle
    * chunk leaves a gap, so the read-side tiling check (ranges must
    * cover [0, len) contiguously) falls the file back whole.
    */
  private[sources] def readBlockIdxRaw(f: File,
      keepTag: String => Boolean = _ => true)
      : Map[String, Seq[(String, String, Long, Long, String, String)]] =
    StatsManifests.read(StatsManifests.BlockIdx, f) { lines =>
      lines.filter(l => keepTag(l(2)))
        .map(l =>
          l.rel -> ((l(1), l(2), l(3).toLong, l(4).toLong, l(5), l(6))))
        .toVector.groupMap(_._1)(_._2)
    }

  /** All-column zone manifest ([[StatsManifests.ColZones]]): per-file
    * min/max for EVERY primitive leaf column (nested leaves under dotted
    * names), written on every batch commit regardless of sort state —
    * the writer tracks bounds while encoding rows, no second pass.
    */
  def colZoneFile(d: File): File = StatsManifests.ColZones.in(d)

  /** Equality-delete sidecar (the Iceberg equality-delete-file analogue
    * for a directory table): tab-separated lines
    * `colEnc TAB typeSimpleString TAB valueEnc [TAB version]`
    * (URL-encoded), each line an independent predicate — a row is
    * DELETED when ANY line's column equals its value. Readers apply the
    * set EXACTLY at decode time (merge-on-read); compaction to a new
    * directory applies it physically and drops the sidecar. Presence of
    * the sidecar disables every metadata-served aggregate (zero-decode
    * COUNT(*), manifest MIN/MAX) — a deleted row could carry the extreme
    * value — while zone PRUNING stays sound (pruning keeps files;
    * deletes drop rows).
    *
    * The optional 4th field is the SNAPSHOT VERSION the delete committed
    * at (the Iceberg sequence-number analogue): a stamped entry applies
    * only to data files BORN at a strictly earlier version (see
    * [[fileBirths]]), so a row re-inserted AFTER the delete — the upsert
    * half of a MERGE — survives instead of being killed by a stale
    * predicate. Legacy 3-field lines have no stamp and apply to every
    * file, which is exactly the pre-versioning behavior.
    */
  def deleteFile(d: File): File = new File(d, "_graft_deletes")

  /** POSITIONAL-delete sidecar (`_graft_posdel`): one line per file,
    * `relEnc TAB p1,p2,…` (sparse CSV) or `relEnc TAB B:base64(bitset)`
    * (dense deletion vector — the writer picks whichever is smaller) —
    * absolute row ordinals (0-based decode order) deleted from one
    * live file. The second merge-on-read flavor next to equality
    * deletes: kill a specific physical row without touching the data.
    * Files carrying positional deletes byte-range split normally since
    * r16 (each range seeds its ordinal from a block-header prefix
    * walk), and COUNT(*) pushdown / numRows stats stay exact by
    * subtracting the validated positions; MIN/MAX aggregates and NDV
    * still stand down (a dead row may hold the extreme). Current-state
    * overlay ONLY: time-travel / incremental / branch reads refuse
    * while it is present (compact to materialize first). Corrupt
    * sidecars fail the read — a dropped line resurrects rows.
    */
  def posdelFile(d: File): File = new File(d, "_graft_posdel")

  /** Raw posdel sidecar content (None = no sidecar) — the exact form
    * journaled per snapshot version and compared against it to detect
    * a legacy UNJOURNALED overlay (mutations that predate r16's posdel
    * journaling).
    */
  def posdelContent(d: File): Option[String] = {
    val f = posdelFile(d)
    if (!f.isFile) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** Row-level operation mode marker: absent (or `copy-on-write`) =
    * group-based rewrite of every file holding a match — the right
    * trade when updates touch a large fraction of each file; present
    * with `merge-on-read` = delta-based ([[SupportsDelta]]): DELETE
    * appends positions to `_graft_posdel`, UPDATE/MERGE pair those
    * position deletes with plain appended files — O(changed rows)
    * instead of O(rewritten files), the right trade for sparse changes
    * to a huge table. Set via
    * [[AvroMaintenance.setRowLevelMode]] / `CALL system.set_row_level_mode`.
    */
  def rowLevelModeFile(d: File): File = new File(d, "_graft_rowlevel")

  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  def rowLevelMode(d: File): String = {
    val f = rowLevelModeFile(d)
    if (!f.isFile) CopyOnWrite
    else {
      val m = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      require(m == CopyOnWrite || m == MergeOnRead,
        s"graft-avro: corrupt _graft_rowlevel sidecar '$m' — expected " +
          s"$CopyOnWrite or $MergeOnRead")
      m
    }
  }

  /** Fingerprint of the table's merge-on-read delete state (equality +
    * positional sidecars) for row-level conflict detection. A concurrent
    * `deleteWhere` / `deleteAtPositions` landing between a row-level
    * op's SCAN and its COMMIT would be silently lost: the rewritten
    * files get birth versions later than the delete's stamp (equality),
    * or the commit drops the replaced files' positional entries, so the
    * delete stops applying to rows the rewrite carried forward — with
    * no error. The row-level scan records this fingerprint when it
    * plans; the commit, under the table lock and before publishing
    * anything, fails loudly if it moved.
    */
  def deleteStateFingerprint(d: File): String = {
    def bytesOf(f: File): Array[Byte] =
      if (f.isFile) java.nio.file.Files.readAllBytes(f.toPath)
      else Array.empty[Byte]
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(bytesOf(deleteFile(d)))
    md.update(Array[Byte](0))
    md.update(bytesOf(posdelFile(d)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** What a row-level operation's scan actually served: the
    * table-relative files to replace at commit, plus the delete-sidecar
    * fingerprint at planning time (None until the scan has planned).
    */
  case class RowLevelScanState(rels: Set[String], deleteFp: Option[String])

  def readPosdel(d: File): Map[String, Array[Long]] = {
    val f = posdelFile(d)
    if (!f.isFile) return Map.empty
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val content = try src.mkString finally src.close()
    parsePosdelContent(content)
  }

  /** Parse raw posdel sidecar CONTENT (live file or a snapshot journal
    * entry) with the same strictness as a live read.
    */
  private[sources] def parsePosdelContent(
      content: String): Map[String, Array[Long]] =
    content.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(relEnc, field) =>
          val ps = decodePosdelPositions(field)
          require(ps.forall(_ >= 0), s"negative position in '$line'")
          java.net.URLDecoder.decode(relEnc, "UTF-8") -> ps
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt _graft_posdel line '$line' — refusing " +
            "to read (a dropped line resurrects deleted rows)")
      }
    }.toMap

  /** DELETION-VECTOR encoding of one file's positions: `B:` + base64
    * of the little-endian long words of a bitset over [0, maxOrdinal].
    * The writer picks whichever of bitmap/CSV is smaller, so dense
    * delete sets (the UPDATE-heavy case) stay compact while sparse
    * ones on huge files stay CSV — both flavors parse forever.
    */
  private[sources] def encodePosdelField(ps: Array[Long]): String = {
    val csv = ps.mkString(",")
    val maxP = ps.last // ps sorted ascending, nonempty
    // bitmap byte budget: words * 8 → ceil(/3)*4 base64 chars + tag
    val words = (maxP >> 6).toInt + 1
    val b64len = 2 + ((words * 8 + 2) / 3) * 4
    if (maxP < (1L << 31) && b64len < csv.length) {
      val bits = new Array[Long](words)
      ps.foreach(p => bits((p >> 6).toInt) |= 1L << (p & 63))
      val bb = java.nio.ByteBuffer.allocate(words * 8)
      bits.foreach(bb.putLong)
      "B:" + java.util.Base64.getEncoder.encodeToString(bb.array())
    } else csv
  }

  private def decodePosdelPositions(field: String): Array[Long] =
    if (field.startsWith("B:")) {
      val bytes = java.util.Base64.getDecoder.decode(field.substring(2))
      require(bytes.length % 8 == 0,
        s"graft-avro: corrupt posdel bitmap (${bytes.length} bytes)")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val out = Array.newBuilder[Long]
      var w = 0
      while (w < bytes.length / 8) {
        val word = bb.getLong
        var b = 0
        while (b < 64) {
          if ((word & (1L << b)) != 0) out += (w.toLong << 6) + b
          b += 1
        }
        w += 1
      }
      out.result()
    } else field.split(',').map(_.toLong).distinct.sorted

  private[sources] def writePosdelSidecar(d: File,
      entries0: Map[String, Array[Long]]): Unit = {
    val entries = entries0.filter(_._2.nonEmpty)
    val sidecar = posdelFile(d)
    if (entries.isEmpty) { sidecar.delete(); return }
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val out = entries.toSeq.sortBy(_._1).map { case (r, ps) =>
      s"${enc(r)}\t${encodePosdelField(ps)}"
    }.mkString("\n")
    val tmp = new File(sidecar.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath, out.getBytes("UTF-8"))
    if (!tmp.renameTo(sidecar)) throw new java.io.IOException(
      s"graft-avro positional delete: rename failed $tmp -> $sidecar")
  }

  /** Records in the container blocks a byte-range split starting at
    * `start` will NOT read — the ordinal base that makes positional
    * deletes and `_graft_pos` split-safe (before r16, any file with
    * either was read whole: one task pinned per file, no matter its
    * size). Block membership mirrors the decode loop's `sync(start)` /
    * `pastSync(end)` exactly: a block belongs to the split containing
    * `blockStart - 16` (its preceding sync's offset), so the prefix is
    * every block with `blockStart - 16 < start`. The walk reads ONLY
    * the two zigzag-varlong block-header fields and seeks over
    * payload+sync — no decompression, no record decode: ~20 bytes of
    * I/O per block instead of re-reading the prefix bytes.
    */
  private[sources] def recordsBefore(file: File, start: Long): Long = {
    if (start <= 0L) return 0L
    // first block offset = end of the container header's trailing sync
    val firstBlock = {
      val r = new org.apache.avro.file.DataFileReader[AnyRef](file,
        new org.apache.avro.generic.GenericDatumReader[AnyRef]())
      try { r.sync(0L); r.previousSync() } finally r.close()
    }
    val len = file.length()
    val raf = new java.io.RandomAccessFile(file, "r")
    try {
      var off = firstBlock
      var n = 0L
      val buf = new Array[Byte](20)
      while (off < len && off - 16 < start) {
        raf.seek(off)
        val got = raf.read(buf)
        var p = 0
        def varlong(): Long = {
          var shift = 0; var acc = 0L; var b = 0
          do {
            require(p < got, s"graft-avro: truncated block header in $file")
            b = buf(p) & 0xff; p += 1
            acc |= (b & 0x7fL) << shift; shift += 7
          } while ((b & 0x80) != 0)
          (acc >>> 1) ^ -(acc & 1)
        }
        val count = varlong()
        val size = varlong()
        require(count >= 0 && size >= 0,
          s"graft-avro: negative block header in $file at $off")
        n += count
        off += p + size + 16 // two varlongs + payload + sync marker
      }
      n
    } finally raf.close()
  }

  /** COLUMN-RENAME mapping sidecar (`_graft_colmap`): ordered
    * `version TAB fromEnc TAB toEnc` lines, one per rename. A rename
    * applies to files whose BIRTH version is `< version` (files written
    * after it already carry the new name — which also makes RE-ADDING a
    * renamed-away name unambiguous: the old file's field maps away, the
    * new file's same-named field is the new column). Readers decode old
    * files through Avro reader-field ALIASES, so no data is rewritten.
    * A sidecar that fails to parse must FAIL the read — a dropped line
    * silently nulls a whole column.
    */
  def colmapFile(d: File): File = new File(d, "_graft_colmap")

  def readColmap(d: File): Seq[(Long, String, String)] = {
    val f = colmapFile(d)
    if (!f.isFile) return Nil
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    lines.map { line =>
      line.split('\t') match {
        case Array(v, fromEnc, toEnc) =>
          (v.toLong, java.net.URLDecoder.decode(fromEnc, "UTF-8"),
            java.net.URLDecoder.decode(toEnc, "UTF-8"))
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt _graft_colmap line '$line' — refusing " +
            "to read (a dropped rename would silently null a column)")
      }
    }
  }

  /** CHECK-CONSTRAINT sidecar (`_graft_constraints`): `nameEnc TAB
    * exprEnc` lines, one per table-level constraint. Every batch AND
    * streaming write through the table validates each row against every
    * stored constraint (plus any ad-hoc `check` write option) BEFORE the
    * row reaches a file — a violating row fails the task, and the
    * transactional commit protocol guarantees the previous dataset is
    * untouched. SQL CHECK semantics: a row violates only when the
    * expression is definitely FALSE (null passes — mirror of
    * `EqualNullSafe(expr, false)`).
    */
  def constraintsFile(d: File): File = new File(d, "_graft_constraints")

  def readConstraints(d: File): Seq[(String, String)] = {
    val f = constraintsFile(d)
    if (!f.isFile) return Nil
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    lines.map { line =>
      line.split('\t') match {
        case Array(n, e) =>
          (java.net.URLDecoder.decode(n, "UTF-8"),
            java.net.URLDecoder.decode(e, "UTF-8"))
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt _graft_constraints line '$line' — " +
            "refusing to write (a dropped line silently disables a check)")
      }
    }
  }

  def writeConstraints(d: File, cs: Seq[(String, String)]): Unit = {
    val f = constraintsFile(d)
    if (cs.isEmpty) { f.delete(); return }
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val tmp = new File(f.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      cs.map { case (n, e) => s"${enc(n)}\t${enc(e)}" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(f)) throw new java.io.IOException(
      s"graft-avro constraints: rename failed $tmp -> $f")
  }

  /** SCHEMA-EVOLUTION sidecar (`_graft_evo`): ordered
    * `version TAB op TAB payloadEnc` lines — `op` is `add` (payload = a
    * one-field StructType json, the appended nullable column) or `drop`
    * (payload = the retired column name). Each entry's `version` is a
    * snapshot version MINTED by the ALTER itself (a forced no-file-delta
    * journal entry), so time travel is exact: a read AS OF v applies
    * only entries with version <= v. Live reads apply every entry, in
    * order. Two invariants keep name-based resolution sound without
    * Iceberg field ids:
    *   - dropped names are RETIRED forever — addColumn refuses to reuse
    *     them and every batch/streaming write refuses a schema carrying
    *     one (otherwise old files' same-named bytes would resurrect into
    *     the "new" column);
    *   - added columns are always nullable (old files synthesize null
    *     through the reader-schema default, `resolveReader`).
    * A sidecar that fails to parse must FAIL the read — a dropped `drop`
    * line resurrects a retired column.
    */
  def evoFile(d: File): File = new File(d, "_graft_evo")

  def readEvo(d: File): Seq[(Long, String, String)] = {
    val f = evoFile(d)
    if (!f.isFile) return Nil
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    lines.map { line =>
      line.split('\t') match {
        case Array(v, op, payloadEnc)
            if op == "add" || op == "drop" || op == "widen" =>
          (v.toLong, op, java.net.URLDecoder.decode(payloadEnc, "UTF-8"))
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt _graft_evo line '$line' — refusing to " +
            "read (a dropped line changes the visible column set)")
      }
    }
  }

  def appendEvo(d: File, version: Long, op: String, payload: String): Unit = {
    val line = s"$version\t$op\t" +
      java.net.URLEncoder.encode(payload, "UTF-8") + "\n"
    java.nio.file.Files.write(evoFile(d).toPath, line.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  /** Names retired by a `drop` entry (any version) — never writable or
    * re-addable again on this table. Nested drops retire the full
    * dotted path.
    */
  def retiredColumns(d: File): Set[String] =
    readEvo(d).collect { case (_, "drop", n) => n }.toSet

  /** Every dotted struct path a schema carries (interior struct columns
    * included) — the write-side retired-name check must see nested
    * paths, or a re-written `a.b` would resurrect pre-drop bytes under
    * the resolver's name-based nested resolution.
    */
  private[sources] def allStructPaths(st: StructType,
      prefix: String = ""): Seq[String] =
    st.fields.toSeq.flatMap { f =>
      val p = prefix + f.name
      p +: (f.dataType match {
        // tagged-union carriers never evolve — their branch "fields"
        // are wire positions, not columns
        case s: StructType
            if !f.metadata.contains(
              graft.avro.AvroSchemaConverter.MetaUnionBranches) =>
          allStructPaths(s, p + ".")
        case _ => Nil
      })
    }

  /** Strict navigation to the struct holding a dotted path's leaf:
    * every intermediate must be a PLAIN struct column — never an
    * array/map element (per-element journaled adds don't compose with
    * split decode) and never a tagged-union carrier (branch layout is
    * wire format, not a column set). ALTER-time validation; the read
    * path replays leniently ([[mapStructLenient]]).
    */
  private[sources] def navStruct(st: StructType, parents: Seq[String],
      ctx: String): StructType =
    parents.foldLeft(st) { (s, seg) =>
      val sf = s.fields.find(_.name == seg).getOrElse(
        throw new IllegalArgumentException(
          s"$ctx: no struct column '$seg'"))
      require(!sf.metadata.contains(
        graft.avro.AvroSchemaConverter.MetaUnionBranches),
        s"$ctx: '$seg' is a tagged-union carrier — branches cannot " +
          "evolve")
      sf.dataType match {
        case inner: StructType => inner
        case other => throw new IllegalArgumentException(
          s"$ctx: '$seg' is ${other.simpleString}, not a struct")
      }
    }

  /** Lenient functional update of the struct at a dotted path's parent:
    * a missing / non-struct / union-carrier intermediate leaves the
    * schema UNCHANGED (the journal replay must never brick a read whose
    * snapshot no longer carries the parent — an overwrite may have
    * reshaped the table since the ALTER).
    */
  private[sources] def mapStructLenient(st: StructType,
      parents: Seq[String])(f: StructType => StructType): StructType =
    if (parents.isEmpty) f(st)
    else {
      val i = st.fieldNames.indexOf(parents.head)
      if (i < 0) return st
      val sf = st.fields(i)
      if (sf.metadata.contains(
          graft.avro.AvroSchemaConverter.MetaUnionBranches)) return st
      sf.dataType match {
        case inner: StructType =>
          StructType(st.fields.updated(i,
            sf.copy(dataType = mapStructLenient(inner, parents.tail)(f))))
        case _ => st
      }
    }

  // DEFAULT-value metadata keys for ALTER TABLE ADD COLUMN … DEFAULT v:
  // the typed literal (for decode-time synthesis on files lacking the
  // column) plus Spark's own CURRENT_DEFAULT/EXISTS_DEFAULT sql-text
  // keys, which make INSERTs with explicit column lists fill the
  // default through the standard analyzer path.
  val DefaultKindKey = "graft.defaultKind"
  val DefaultValueKey = "graft.defaultValue"

  /** The declared ADD COLUMN default as the Java object Avro's schema
    * builder accepts as a field default (types restricted at ALTER
    * time to int/long/double/boolean/string).
    */
  def declaredDefault(sf: org.apache.spark.sql.types.StructField)
      : Option[AnyRef] = {
    if (!sf.metadata.contains(DefaultKindKey)) return None
    Some(sf.metadata.getString(DefaultKindKey) match {
      case "int" =>
        Integer.valueOf(sf.metadata.getLong(DefaultValueKey).toInt)
      case "long" =>
        java.lang.Long.valueOf(sf.metadata.getLong(DefaultValueKey))
      case "double" =>
        java.lang.Double.valueOf(sf.metadata.getDouble(DefaultValueKey))
      case "boolean" =>
        java.lang.Boolean.valueOf(sf.metadata.getBoolean(DefaultValueKey))
      case "string" => sf.metadata.getString(DefaultValueKey)
      case other => throw new IllegalStateException(
        s"graft-avro: unknown default kind '$other' on '${sf.name}'")
    })
  }

  /** Apply the evolution journal to an inferred schema: entries with
    * version <= `asOf` (all of them when None = live read), in order.
    * An `add` whose column the files already carry (written after the
    * ALTER) is a no-op — file inference placed it; a `drop` removes the
    * column wherever it came from.
    */
  def applyEvo(d: File, st: StructType, asOf: Option[Long]): StructType = {
    val entries = readEvo(d).filter { case (v, _, _) => asOf.forall(v <= _) }
    if (entries.isEmpty) return st
    entries.foldLeft(st) { case (s, (_, op, payload)) =>
      op match {
        case "add" =>
          val f = org.apache.spark.sql.types.DataType.fromJson(payload)
            .asInstanceOf[StructType].fields.headOption.getOrElse(
              throw new IllegalStateException(
                s"graft-avro: empty add-column payload in ${evoFile(d)}"))
          val segs = f.name.split('.').toSeq
          if (segs.length > 1)
            // nested add (r20): append the leaf inside its parent
            // struct; files written post-ALTER already carry it (keep
            // their version). Lenient on a vanished parent — see
            // mapStructLenient.
            mapStructLenient(s, segs.init) { inner =>
              val i = inner.fieldNames.indexOf(segs.last)
              if (i >= 0)
                // files already carry it — keep their type/position but
                // force nullable: pre-ALTER files synthesize null
                StructType(inner.fields.updated(i,
                  inner.fields(i).copy(nullable = true)))
              else StructType(
                inner.fields :+ f.copy(name = segs.last, nullable = true))
            }
          else if (s.fieldNames.contains(f.name))
            // files already carry the column (written post-ALTER): keep
            // their type/position but re-attach the ALTER's metadata —
            // INSERT-default resolution and decode-time synthesis for
            // any remaining old files both live there
            StructType(s.fields.map(x =>
              if (x.name == f.name &&
                  f.metadata != org.apache.spark.sql.types.Metadata.empty)
                x.copy(metadata = f.metadata)
              else x))
          else StructType(s.fields :+ f.copy(nullable = true))
        case "drop" =>
          val segs = payload.split('.').toSeq
          if (segs.length > 1)
            mapStructLenient(s, segs.init) { inner =>
              StructType(inner.fields.filterNot(_.name == segs.last))
            }
          else StructType(s.fields.filterNot(_.name == payload))
        case "widen" =>
          // type override along Avro promotions: files keep their
          // narrow bytes (decode promotes), inference reads the wide
          // type. Applies whether files carry the old or new type —
          // newest-file-wins merge and the journal agree on the result.
          val f = org.apache.spark.sql.types.DataType.fromJson(payload)
            .asInstanceOf[StructType].fields.headOption.getOrElse(
              throw new IllegalStateException(
                s"graft-avro: empty widen payload in ${evoFile(d)}"))
          StructType(s.fields.map(x =>
            if (x.name == f.name) x.copy(dataType = f.dataType) else x))
      }
    }
  }

  /** One parsed-but-unresolved sidecar line; `stamp` None = legacy
    * entry, applies to every file.
    */
  private[sources] final case class RawDelete(
      col: String, tpe: String, value: String, stamp: Option[Long])

  private[sources] def readDeletesRaw(df: File): Seq[RawDelete] = {
    val src = scala.io.Source.fromFile(df, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(parseDeleteLine(_, df.toString))
      .toList
    finally src.close()
  }

  private def parseDeleteLine(line: String, where: String): RawDelete =
    line.split('\t') match {
      case Array(c, t, v) => RawDelete(c, t, v, None)
      case Array(c, t, v, s) =>
        val stamp = try s.toLong catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft-avro: corrupt delete version '$s' in $where")
        }
        RawDelete(c, t, v, Some(stamp))
      case _ => throw new IllegalStateException(
        s"graft-avro: corrupt delete sidecar line '$line' in $where")
    }

  /** Delete-supported column types: exact external equality is decidable
    * and encoding round-trips losslessly.
    */
  private[sources] def deletableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      case _ => false
    }
  }

  /** One resolved delete predicate: external-typed value plus the
    * optional version stamp gating which files it applies to.
    */
  private[sources] final case class DeleteEntry(
      col: String, value: Any, stamp: Option[Long])

  /** Parse the sidecar against the table schema → resolved entries.
    * UNLIKE the zone manifests, a delete that cannot be interpreted must
    * FAIL the read, not be skipped: skipping would resurrect deleted
    * rows.
    */
  private[sources] def readDeletes(df: File,
      full: StructType): Seq[DeleteEntry] =
    parseDeletes(readDeletesRaw(df), full)

  /** Parse raw sidecar CONTENT (as archived in a snapshot-journal entry)
    * with the same strictness as a live sidecar read.
    */
  private[sources] def parseDeleteContent(content: String,
      full: StructType): Seq[DeleteEntry] =
    parseDeletes(content.split('\n').toSeq.filter(_.nonEmpty)
      .map(parseDeleteLine(_, "archived snapshot entry")), full)

  private[sources] def parseDeletes(raw: Seq[RawDelete],
      full: StructType): Seq[DeleteEntry] =
    raw.map { case RawDelete(cEnc, tName, vEnc, stamp) =>
      val c = java.net.URLDecoder.decode(cEnc, "UTF-8")
      val dt = full.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalStateException(
          s"graft-avro: delete sidecar references unknown column '$c'"))
      if (!deletableType(dt) || dt.simpleString != tName)
        throw new IllegalStateException(
          s"graft-avro: delete sidecar type '$tName' does not match " +
            s"column '$c' (${dt.simpleString})")
      val v = castPartitionValue(vEnc, dt).getOrElse(
        throw new IllegalStateException(
          s"graft-avro: unparsable delete value '$vEnc' for column '$c'"))
      // SQL equality semantics: `col = NULL` matches nothing, so a null
      // delete value is a meaningless (and likely corrupt) entry
      if (v == null) throw new IllegalStateException(
        s"graft-avro: null delete value for column '$c'")
      DeleteEntry(c, v, stamp)
    }

  /** Restrict entries to those in force for a file born at `birth`, and
    * group into the per-column value sets the decode check consumes. An
    * unstamped (legacy) entry applies everywhere; a stamped one only to
    * strictly older files — a file appended at-or-after the delete's
    * version must keep its rows (MERGE re-insert semantics).
    */
  private[sources] def applicableDeletes(entries: Seq[DeleteEntry],
      birth: Long): Seq[(String, Set[Any])] =
    entries.filter(_.stamp.forall(_ > birth))
      .groupBy(_.col).view.mapValues(_.map(_.value).toSet).toSeq

  // ------------------------------------------------------------------
  // Per-file bloom sidecars ([[StatsManifests.Blooms]]) — equality/IN
  // membership pruning for scattered high-cardinality keys; partial
  // coverage is sound (absence ⇒ scan).
  // An entry's width is its own: any power of two from 64 bits to
  // [[BloomBits]] (see [[foldBloom]]); readers probe modulo it.
  // ------------------------------------------------------------------

  // Build width of every bloom set (4 KB per (file, column) or chunk
  // cell). File-level entries fold down from it at file close; chunk
  // cells are written at this width. The widest entry a reader accepts.
  val BloomBits = 1 << 15
  val BloomHashes = 5

  def bloomFile(d: File): File = StatsManifests.Blooms.in(d)

  private def bloomHash2(s: String): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(md)
    (bb.getLong(0), bb.getLong(8))
  }

  private[sources] def bloomAdd(bits: Array[Long], value: String): Unit =
    bloomAddHashed(bits, bloomHash2(value))

  private[sources] def bloomAddHashed(bits: Array[Long],
      h: (Long, Long)): Unit = {
    val (h1, h2) = h
    var i = 0
    while (i < BloomHashes) {
      val b = java.lang.Math.floorMod(h1 + i * h2, BloomBits.toLong).toInt
      bits(b >> 6) |= 1L << (b & 63)
      i += 1
    }
  }

  /** Memoized trigram bloom fold: one md5 per DISTINCT trigram instead
    * of one per occurrence (write-path cost — a length-L string used
    * to pay L−2 md5s per row; real corpora repeat a small trigram
    * vocabulary). Cache bounded; overflow falls back to hashing. */
  private[sources] final class TrigramHasher {
    private val memo = new java.util.HashMap[String, (Long, Long)]()
    def add(bits: Array[Long], s: String): Unit = {
      var i = 0
      while (i + 3 <= s.length) {
        val g = s.substring(i, i + 3)
        var h = memo.get(g)
        if (h == null) {
          h = bloomHash2(g)
          if (memo.size < 65536) memo.put(g, h)
        }
        bloomAddHashed(bits, h)
        i += 1
      }
    }
  }

  /** Trigram bloom entries ride the SAME `_graft_blooms` manifest under
    * this type tag; the equality reader's `recorded type == read type`
    * guard drops them (and this reader drops equality entries), so the
    * two kinds can never answer each other's membership questions.
    */
  val TrigramTypeTag = "trigram:string"

  private[sources] def trigramsOf(s: String): Seq[String] =
    if (s.length < 3) Nil
    else (0 to s.length - 3).map(i => s.substring(i, i + 3))

  /** Column types whose canonical toString is identical between the
    * writer's external value and a pushed-filter/join-key literal.
    */
  private[sources] def bloomableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      // decimals (r20): canonical form is the scale-normalized plain
      // string (see canonicalValue) — stable on both writer and probe
      case _: DecimalType => true
      // timestamps (r20): canonical = epoch micros, TZ-independent
      case TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Bloom manifest keyed by relative path, values still encoded. */
  private[sources] def readBloomsRaw(bf: File)
      : Map[String, Seq[(String, String, String)]] =
    StatsManifests.byRel(StatsManifests.Blooms, bf).map { case (rel, ls) =>
      rel -> ls.map(l => (l(1), l(2), l(3)))
    }

  /** Test observability: manifest parse count (BloomScaleSpec proves a
    * filterless scan never reads the bloom manifest at all) and
    * Base64-decoded entry count (BloomScaleSpec proves decode work
    * scales with the scan's probed columns and that verdict memory
    * stays O(dropped files) at any manifest size).
    */
  private[sources] val bloomManifestReads =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[sources] val bloomEntriesDecoded =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** One pushed predicate's membership question against one column's
    * bloom entry. `any` = equality/IN semantics (the file may match iff
    * SOME candidate value might be present); `!any` = a substring
    * needle (the file may match iff EVERY trigram might be present).
    * Hashes are precomputed once per scan — md5 per value per FILE
    * would dominate planning on wide manifests.
    */
  private[sources] final case class BloomProbe(any: Boolean,
      hashes: Seq[(Long, Long)])

  private[sources] def bloomProbeEq(values: Iterable[String]): BloomProbe =
    BloomProbe(any = true, values.toSeq.map(bloomHash2))

  private[sources] def bloomProbeSubstring(needle: String): BloomProbe =
    BloomProbe(any = false, trigramsOf(needle).map(bloomHash2))

  /** Probe modulo the set's OWN width: a set folded to m bits answers
    * exactly as the [[BloomBits]] set it came from would at width m
    * (see [[foldBloom]]), so every width probes the same hashes.
    */
  private def probeHit(bits: Array[Long], h: (Long, Long)): Boolean = {
    val m = bits.length.toLong * 64
    var i = 0
    while (i < BloomHashes) {
      val b = java.lang.Math.floorMod(h._1 + i * h._2, m).toInt
      if ((bits(b >> 6) & (1L << (b & 63))) == 0) return false
      i += 1
    }
    true
  }

  /** Fold a [[BloomBits]] set to the narrowest width its contents
    * allow. `floorMod(h, m) == floorMod(h, 2m) mod m` for a power of two
    * m, so OR-ing the upper half into the lower half IS the set the same
    * values would have built at half the width: folding never adds a
    * false negative. Halving stops before the folded set would pass 1/8
    * full (k=5 ⇒ about (1/8)^5 ≈ 3e-5 false positives) or 64 bits.
    */
  private[sources] def foldBloom(bits: Array[Long]): Array[Long] = {
    var cur = bits
    var done = false
    while (!done && cur.length > 1) {
      val half = cur.length / 2
      val next = Array.tabulate(half)(i => cur(i) | cur(i + half))
      val set = next.iterator.map(java.lang.Long.bitCount).sum
      if (set.toLong * 8 > half.toLong * 64) done = true
      else cur = next
    }
    cur
  }

  /** Decode one base64 bloom set of any power-of-two width from 64 bits
    * to [[BloomBits]]; anything else (malformed, truncated, another
    * width) is None and its file or chunk is kept.
    */
  private[sources] def decodeBloom(b64: String): Option[Array[Long]] =
    scala.util.Try(java.util.Base64.getDecoder.decode(b64)).toOption
      .filter { bytes =>
        val n = bytes.length
        n >= 8 && n <= BloomBits / 8 && (n & (n - 1)) == 0
      }
      .map { bytes =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
        Array.fill(bytes.length / 8)(bb.getLong)
      }

  private[sources] def encodeBloom(bits: Array[Long]): String =
    java.util.Base64.getEncoder.encodeToString {
      val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      bits.foreach(bb.putLong)
      bb.array()
    }

  private[sources] def probePass(bits: Array[Long], p: BloomProbe): Boolean =
    if (p.any) p.hashes.exists(probeHit(bits, _))
    else p.hashes.forall(probeHit(bits, _))

  /** Streaming membership pruning: evaluate every probe against the
    * manifest AS IT STREAMS and retain only the files some probe
    * definitively rules out. Driver heap is O(dropped paths) plus ONE
    * transient bit array (at most 4 KB) — never the decoded manifest — so
    * membership pruning survives any table size (this replaces the
    * earlier 32k-entry cap that stood pruning down exactly on the
    * large tables where it pays most). Soundness: entries whose
    * recorded type disagrees with the read schema are ignored; a file
    * with no entry for a probed column is kept (absence ⇒ scan,
    * partial coverage fine); an unreadable manifest keeps everything.
    */
  private[sources] def bloomDroppedFiles(bf: File, base: File,
      full: StructType, probes: Map[String, Seq[BloomProbe]],
      trigram: Boolean = false): Set[String] = {
    if (probes.isEmpty || !bf.isFile) return Set.empty
    bloomManifestReads.incrementAndGet()
    StatsManifests.read(StatsManifests.Blooms, bf) { lines =>
      val dropped = scala.collection.mutable.HashSet.empty[String]
      lines.foreach { l =>
        val col = java.net.URLDecoder.decode(l(1), "UTF-8")
        val ps = probes.getOrElse(col, Nil)
        val typeOk = ps.nonEmpty &&
          AvroFilterEval.leafType(full, col).exists { dt =>
            if (trigram)
              l(2) == TrigramTypeTag &&
                dt == org.apache.spark.sql.types.StringType
            else dt.simpleString == l(2) && bloomableType(dt)
          }
        if (typeOk)
          decodeBloom(l(3)).foreach { bits =>
            bloomEntriesDecoded.incrementAndGet()
            if (!ps.forall(probePass(bits, _)))
              dropped += new File(base, l.rel).getAbsolutePath
          }
      }
      dropped.toSet
    }
  }

  // ------------------------------------------------------------------
  // Commit-time statistics ([[StatsManifests.Rows]],
  // [[StatsManifests.Ndv]]) — ANALYZE-free
  // planner statistics. Every staged batch commit records per-file row
  // counts (free: the writer counts appends); the opt-in `ndvFor` write
  // option additionally folds a 256-register HLL per (file, column).
  // The read side serves EXACT numRows and merged NDV estimates through
  // DSv2 Statistics/columnStats — but only when every live file is
  // covered AND no delete sidecar exists (deleted rows would overcount)
  // AND the scan targets the live version; any doubt serves nothing,
  // which Spark treats as "unknown" (always sound). Estimates feed the
  // planner only — query RESULTS never touch these manifests.
  // ------------------------------------------------------------------

  val NdvRegisters = 256

  def rowsFile(d: File): File = StatsManifests.Rows.in(d)
  def ndvFile(d: File): File = StatsManifests.Ndv.in(d)

  /** Per-file row counts keyed by relative path. */
  private[sources] def readRowsRaw(f: File): Map[String, Long] =
    StatsManifests.byRel(StatsManifests.Rows, f).map {
      case (rel, ls) => rel -> ls.head(1).toLong
    }

  /** NDV sketches keyed by relative path, values still encoded. */
  private[sources] def readNdvRaw(f: File)
      : Map[String, Seq[(String, String, String)]] =
    StatsManifests.byRel(StatsManifests.Ndv, f).map { case (rel, ls) =>
      rel -> ls.map(l => (l(1), l(2), l(3)))
    }

  /** Fold one value into an HLL register array (m=256): register index =
    * top 8 bits of the 64-bit md5 prefix, rank = leading-zero count of
    * the remaining 56 bits + 1. Registers merge across files by
    * element-wise max — the standard mergeable-sketch property that
    * makes per-file stats foldable into a table estimate at plan time.
    */
  private[sources] def ndvAdd(regs: Array[Byte], value: String): Unit = {
    val (h1, _) = bloomHash2(value)
    val idx = (h1 >>> 56).toInt
    val rank = math.min(java.lang.Long.numberOfLeadingZeros((h1 << 8) | 1L) + 1, 57)
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  /** Standard HLL estimate with linear-counting small-range correction.
    * Planner metadata only — needs no cross-engine determinism.
    */
  private[sources] def ndvEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    var e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
    math.round(e)
  }

  // ------------------------------------------------------------------
  // Snapshot journal (time travel) — the Iceberg snapshot-log analogue.
  //
  // `_graft_snapshots` is an append-only, DELTA-ENCODED version log: one
  // line per committed version,
  //
  //   version TAB millis TAB kind TAB deletes TAB fileDeltas
  //
  // where `fileDeltas` is a comma list of `+<rel>` / `-<rel>` changes vs
  // the previous version's file set (URL-encoded relative paths) and
  // `deletes` is the URL-encoded `_graft_deletes` content when it CHANGED
  // this version (`~` = carried forward, `-` = none). Delta encoding
  // keeps the journal O(total file churn), not O(versions × files) — the
  // property that lets a 100 TB table with thousands of snapshots keep a
  // journal in the kilobytes. The file is rewritten via staging + atomic
  // rename like every other manifest.
  //
  // Overwrites ARCHIVE replaced data files under `_graft_archive/<rel>`
  // (same relative layout, so partition values still parse) instead of
  // deleting them; `versionAsOf` resolution is live-first then archive —
  // sound because batch file names carry a random component and can
  // never recur across generations. [[AvroMaintenance.expireSnapshots]]
  // is the vacuum: it drops old versions and deletes archived files no
  // kept snapshot references.
  // ------------------------------------------------------------------

  def snapshotsFile(d: File): File = new File(d, "_graft_snapshots")
  private[sources] val ArchiveDirName = "_graft_archive"

  def archiveDir(d: File): File = new File(d, ArchiveDirName)

  /** Table-relative path of data file `f` under table `d`, with the
    * archive prefix stripped: the logical identity a file keeps whether
    * a read resolves it live or from `_graft_archive/`.
    */
  private[sources] def logicalRel(d: File, f: File): String = {
    val rel = d.getAbsoluteFile.toPath
      .relativize(f.getAbsoluteFile.toPath).toString
    val arch = ArchiveDirName + "/"
    if (rel.startsWith(arch)) rel.substring(arch.length) else rel
  }

  /** Stamp a just-archived file's mtime to NOW: the vacuum's retention
    * grace ([[AvroMaintenance.expireSnapshots]]'s `graceMs`) clocks from
    * ARCHIVE time, not the file's write time — a long-running scan that
    * pinned the file before the overwrite gets the full window however
    * old the bytes are. Best-effort (setLastModified may be refused);
    * an unstamped file just ages out by its write time, which only ever
    * reclaims EARLIER — never keeps garbage longer.
    */
  /** `_graft_archived` sidecar: durable archive-time records
    * (`encodedRel TAB epochMs` per line, appended under the commit
    * lock). mtime stamping alone is best-effort — setLastModified may
    * silently fail, and files archived before the sidecar existed age
    * by their ORIGINAL write time, both in the unsafe direction (early
    * reclaim under a concurrent scan's grace window). The sweep prefers
    * the sidecar and falls back to mtime for legacy entries.
    */
  private[sources] def archivedStampFile(d: File): File =
    new File(d, "_graft_archived")

  private[sources] def readArchivedStamps(d: File): Map[String, Long] = {
    val f = archivedStampFile(d)
    if (!f.isFile) return Map.empty
    try {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap { line =>
        line.split('\t') match {
          case Array(rel, ms) if ms.matches("[0-9]+") =>
            Some(java.net.URLDecoder.decode(rel, "UTF-8") -> ms.toLong)
          case _ => None
        }
      }.toMap
      finally src.close()
    } catch {
      case e: Exception =>
        // falling back to mtime aging is the exact unsafe-early-reclaim
        // direction this sidecar exists to prevent — degrade LOUDLY
        // (readBlockIdxRaw posture), never silently (ADVICE r18)
        System.err.println(s"graft-avro: archived-stamp sidecar $f " +
          s"unreadable (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
          "expire grace falls back to best-effort file mtimes")
        Map.empty
    }
  }

  private[sources] def writeArchivedStamps(d: File,
      stamps: Map[String, Long]): Unit = {
    val f = archivedStampFile(d)
    if (stamps.isEmpty) { f.delete(); return }
    val tmp = new File(f.getPath + ".staging")
    // trailing newline is LOAD-BEARING: stampArchived APPENDS raw
    // lines — without it the next append would concatenate onto the
    // last entry and silently corrupt both stamps
    java.nio.file.Files.write(tmp.toPath,
      stamps.toSeq.sortBy(_._1).map { case (rel, ms) =>
        java.net.URLEncoder.encode(rel, "UTF-8") + "\t" + ms + "\n"
      }.mkString.getBytes("UTF-8"))
    if (!tmp.renameTo(f)) throw new java.io.IOException(
      s"graft-avro: rename failed $tmp -> $f")
  }

  private[sources] def stampArchived(f: File): Unit = {
    val now = System.currentTimeMillis()
    f.setLastModified(now)
    // durable record beside the mtime stamp: walk up to the table's
    // `_graft_archive` root (every archived file lives under one) and
    // append this file's archive time; all archive moves run under the
    // table commit lock, so the append is race-free
    var p = f.getAbsoluteFile.getParentFile
    while (p != null && p.getName != AvroFileSource.ArchiveDirName)
      p = p.getParentFile
    if (p != null && p.getParentFile != null) {
      val rel = p.toPath.relativize(f.getAbsoluteFile.toPath).toString
      val line =
        java.net.URLEncoder.encode(rel, "UTF-8") + "\t" + now + "\n"
      try java.nio.file.Files.write(
        archivedStampFile(p.getParentFile).toPath,
        line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: java.io.IOException => () } // mtime still stamped
    }
  }

  // ------------------------------------------------------------------
  // COMMIT SERIALIZATION. Every metadata mutation (journal append,
  // manifest merge, sidecar rewrite, archive moves) is a read-modify-
  // write over shared files: two concurrent committers would lose one
  // writer's journal line or its stats sidecar lines. All
  // state-mutating entry points therefore run under a per-table commit
  // lock: a JVM-interned monitor (threads in one driver) plus an OS
  // advisory FileLock on `_graft_lockfile` (separate driver processes
  // on a shared local FS). Data-file task
  // writes need no lock — names are generation-unique; only the
  // driver-side commit section serializes, so lock hold time is
  // O(metadata), never O(data).
  // ------------------------------------------------------------------

  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // RE-ENTRANCY: composed maintenance ops (createBranch → tag) nest
  // lock acquisitions on the same thread; the JVM monitor is naturally
  // re-entrant but an OS FileLock is NOT (same-JVM re-acquisition
  // throws OverlappingFileLockException) — a per-thread depth map makes
  // the whole helper re-entrant.
  private val commitLockDepth
      : ThreadLocal[scala.collection.mutable.Map[String, Int]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Map.empty)

  def withCommitLock[T](d: File)(body: => T): T = {
    // CANONICAL path: two spellings of one table dir (symlink, `.`/`..`
    // segments) must serialize on the same monitor — keyed on the
    // absolute path they'd bypass the JVM monitor and then collide on
    // the OS FileLock with OverlappingFileLockException instead of
    // blocking
    val key =
      try d.getCanonicalPath catch { case _: java.io.IOException =>
        d.getAbsolutePath }
    val depths = commitLockDepth.get()
    if (depths.getOrElse(key, 0) > 0) {
      depths(key) += 1
      try body finally depths(key) -= 1
    } else {
      val monitor = commitMonitors.computeIfAbsent(key, _ => new Object)
      monitor.synchronized {
        d.mkdirs()
        val lf = new File(d, "_graft_lockfile")
        val ch = java.nio.channels.FileChannel.open(lf.toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try {
            depths(key) = 1
            try body finally {
              depths(key) -= 1
              if (depths(key) == 0) { depths.remove(key); () }
            }
          } finally lock.release()
        } finally ch.close()
      }
    }
  }

  /** One reconstructed snapshot: `files` are table-relative data-file
    * paths; `deletes` is the raw equality-delete sidecar content in force
    * at this version (None = no deletes); `posdels` likewise the raw
    * positional-delete sidecar content (r16: journaled per version so
    * CDC can serve position-delete deltas and travel reads can apply
    * the exact historical overlay — legacy 5-field journal lines parse
    * as "carried", which folds to None on pre-upgrade journals).
    */
  case class Snapshot(version: Long, millis: Long, kind: String,
      deletes: Option[String], files: Seq[String],
      posdels: Option[String] = None)

  /** Replay the delta journal into cumulative snapshots, oldest first.
    * STRICT like the delete sidecar: time travel serves query RESULTS,
    * so a malformed journal must fail the read, not silently skip
    * versions (a dropped `-` delta would resurrect an overwritten file).
    */
  /** Parse caches for the snapshot journal, keyed by the journal file's
    * [[FileIdentity]] — every journal mutation is an atomic rename of a
    * fresh file, so a hit is a safe serve. This is the planning-cost
    * complement of journal-served listing: without it every scan of
    * every query re-parses O(versions × files) text. A parse is stored
    * only when a stat after it still shows the identity it began with.
    * [[appendSnapshot]] seeds both caches with the state it appends, so
    * the first read after a commit hits too. Bounded: cleared wholesale
    * past [[MaxJournalCacheTables]] tables (tests mint thousands of temp
    * tables per JVM).
    */
  private val MaxJournalCacheTables = 64
  private val snapshotsCache = new java.util.concurrent
    .ConcurrentHashMap[String, (FileIdentity, Seq[Snapshot])]()
  private val birthsCache = new java.util.concurrent
    .ConcurrentHashMap[String, (FileIdentity, Map[String, Long])]()
  /** Test observability: actual journal text parses (JournalCacheSpec). */
  private[sources] val journalParses =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def cacheJournal[T](key: String, id: FileIdentity, v: T,
      cache: java.util.concurrent.ConcurrentHashMap[String, (FileIdentity, T)])
      : Unit = {
    if (cache.size >= MaxJournalCacheTables) cache.clear()
    cache.put(key, (id, v))
  }

  private def cachedJournal[T](jf: File,
      cache: java.util.concurrent.ConcurrentHashMap[String, (FileIdentity, T)])
      (parse: => T): T = {
    val key = jf.getAbsolutePath
    val id = FileIdentity.of(jf)
    val hit = cache.get(key)
    if (hit != null && id.contains(hit._1)) hit._2
    else {
      val v = parse
      id.filter(i => FileIdentity.of(jf).contains(i))
        .foreach(cacheJournal(key, _, v, cache))
      v
    }
  }

  def readSnapshots(d: File): Seq[Snapshot] = {
    val jf = snapshotsFile(d)
    if (!jf.isFile) return Nil
    cachedJournal(jf, snapshotsCache)(parseSnapshots(jf))
  }

  private[sources] def parseSnapshots(jf: File): Seq[Snapshot] = {
    journalParses.incrementAndGet()
    val src = scala.io.Source.fromFile(jf, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    var files = Vector.empty[String]
    // O(1) membership next to the ordered vector: the replay is on the
    // scan-planning hot path (listLive), so per-token `contains` over
    // the vector would make it O(versions × files)
    var fileSet = Set.empty[String]
    var dels: Option[String] = None
    var pos: Option[String] = None
    var prevV = -1L // expireSnapshots may rebase the journal start
    def parseLine(v: String, ms: String, kindEnc: String, delEnc: String,
        deltasEnc: String, posEnc: String): Snapshot = {
      val version = v.toLong
      // strictly increasing, gaps allowed: the tag-aware vacuum
      // keeps non-contiguous versions and re-deltas between them
      if (prevV >= 0 && version <= prevV)
        throw new IllegalStateException(
          s"graft-avro: non-increasing snapshot version $version in $jf")
      prevV = version
      dels = delEnc match {
        case "~" => dels // carried forward unchanged
        case "-" => None
        case enc => Some(java.net.URLDecoder.decode(enc, "UTF-8"))
      }
      pos = posEnc match {
        case "~" => pos
        case "-" => None
        case enc => Some(java.net.URLDecoder.decode(enc, "UTF-8"))
      }
      if (deltasEnc != "-") deltasEnc.split(',').foreach { tok =>
        // add tokens may carry an explicit `@birth` suffix (written by
        // the vacuum's rebase so original birth versions survive the
        // journal rewrite); '@' never appears inside the URL-encoded
        // path, so the split is unambiguous
        val rel = java.net.URLDecoder.decode(
          splitBirthSuffix(tok.drop(1))._1, "UTF-8")
        tok.charAt(0) match {
          case '+' =>
            if (fileSet.contains(rel)) throw new IllegalStateException(
              s"graft-avro: duplicate add of '$rel' at version $version")
            files :+= rel
            fileSet += rel
          case '-' =>
            if (!fileSet.contains(rel)) throw new IllegalStateException(
              s"graft-avro: remove of unknown '$rel' at version $version")
            files = files.filterNot(_ == rel)
            fileSet -= rel
          case _ => throw new IllegalStateException(
            s"graft-avro: bad snapshot delta '$tok' in $jf")
        }
      }
      Snapshot(version, ms.toLong,
        java.net.URLDecoder.decode(kindEnc, "UTF-8"), dels, files, pos)
    }
    lines.map { line =>
      line.split('\t') match {
        // 5-field = pre-posdel-journaling line (the posdel column reads
        // as carried, which folds to None on all-legacy journals);
        // 6-field appends the positional-delete sidecar state
        case Array(v, ms, kindEnc, delEnc, deltasEnc) =>
          parseLine(v, ms, kindEnc, delEnc, deltasEnc, "~")
        case Array(v, ms, kindEnc, delEnc, deltasEnc, posEnc) =>
          parseLine(v, ms, kindEnc, delEnc, deltasEnc, posEnc)
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt snapshot journal line '$line' in $jf")
      }
    }
  }

  /** Split an add-token body into (encoded rel path, explicit birth).
    * `relEnc@7` → (relEnc, Some(7)); plain `relEnc` → (relEnc, None).
    */
  private[sources] def splitBirthSuffix(body: String): (String, Option[Long]) =
    body.indexOf('@') match {
      case -1 => (body, None)
      case i =>
        val b = try body.substring(i + 1).toLong catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft-avro: corrupt birth suffix in snapshot token '$body'")
        }
        (body.substring(0, i), Some(b))
    }

  /** Per-file BIRTH versions (relative path → first version containing
    * the file), replayed from the journal. Two conventions keep legacy
    * tables sound: files first seen in the journal's FIRST line get
    * birth 0 unless an explicit `@birth` says otherwise (they may
    * predate the journal — a deleteWhere that jumpstarts journaling on
    * an old table must still apply to them), and files absent from the
    * journal entirely read as birth 0 at the call site (every delete
    * applies — the legacy global behavior). Versioned deletes consume
    * this: an entry stamped V applies only to files with birth < V.
    */
  def fileBirths(d: File): Map[String, Long] = {
    val jf = snapshotsFile(d)
    if (!jf.isFile) return Map.empty
    cachedJournal(jf, birthsCache)(parseBirths(jf))
  }

  private[sources] def parseBirths(jf: File): Map[String, Long] = {
    journalParses.incrementAndGet()
    val src = scala.io.Source.fromFile(jf, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    var births = Map.empty[String, Long]
    var first = true
    lines.foreach { line =>
      val arr = line.split('\t')
      // 5 fields = legacy, 6 = with the journaled posdel column
      if (arr.length != 5 && arr.length != 6)
        throw new IllegalStateException(
          s"graft-avro: corrupt snapshot journal line '$line' in $jf")
      val version = arr(0).toLong
      val deltasEnc = arr(4)
      if (deltasEnc != "-") deltasEnc.split(',').foreach { tok =>
        if (tok.charAt(0) == '+') {
          val (relEnc, explicit) = splitBirthSuffix(tok.drop(1))
          val rel = java.net.URLDecoder.decode(relEnc, "UTF-8")
          if (!births.contains(rel))
            births += rel -> explicit.getOrElse(if (first) 0L else version)
        }
      }
      first = false
    }
    births
  }

  /** [[fileBirths]] re-keyed by ABSOLUTE physical path (both the live
    * and archived location — time-travel partitions may read either), so
    * the per-partition reader can look its file up directly. Skipped
    * (empty) when no delete entry carries a stamp: only versioned
    * entries consult births, and the map is O(files) driver metadata.
    * `planned`, when given, holds the table-relative paths of the files
    * a scan will read: the map then carries only those files, since it
    * ships with every task. It is evaluated only when the map is built.
    */
  private[sources] def birthsByPhysicalPath(d: File,
      dels: Seq[DeleteEntry], force: Boolean = false,
      planned: => Option[Set[String]] = None): Map[String, Long] =
    if (!force && !dels.exists(_.stamp.nonEmpty)) Map.empty
    else {
      val keep = planned
      fileBirths(d).iterator
        .filter { case (rel, _) => keep.forall(_.contains(rel)) }
        .flatMap { case (rel, b) =>
          Iterator(new File(d, rel).getAbsolutePath -> b,
            new File(archiveDir(d), rel).getAbsolutePath -> b)
        }.toMap
    }

  /** Record the directory's CURRENT state (live data files + delete
    * sidecar) as the next version. No-ops when nothing changed since the
    * last snapshot — idle streaming epochs and empty appends must not
    * mint empty versions. Called at the END of every successful commit
    * (batch, streaming epoch, delete publication), when the new state is
    * fully visible.
    */
  def appendSnapshot(d: File, kind: String, force: Boolean = false,
      liveHint: Option[Seq[String]] = None): Unit = {
    val base = d.getAbsoluteFile.toPath
    // liveHint (r21): a commit that already walked the table dir (the
    // stats fold / epoch straggler sweep) passes its listing through so
    // the journal append does not re-walk — one walk per commit
    val live = liveHint.map(_.sorted).getOrElse(listAvro(d)
      .map(f => base.relativize(f.getAbsoluteFile.toPath).toString).sorted)
    def sidecarContent(f: File): Option[String] =
      if (f.isFile)
        Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    val dels = sidecarContent(deleteFile(d))
    val poss = sidecarContent(posdelFile(d))
    val jf = snapshotsFile(d)
    val key = jf.getAbsolutePath
    val read0 = FileIdentity.of(jf)
    val prior = readSnapshots(d)
    val last = prior.lastOption
    // `force` mints a version even with no state delta — metadata-only
    // operations (ALTER TABLE column evolution, rollback bookkeeping)
    // need their own journal version for AS OF reads to bracket them
    if (!force &&
      last.exists(s => s.files.sorted == live && s.deletes == dels &&
        s.posdels == poss)) return
    val prevFiles = last.map(_.files).getOrElse(Vector.empty)
    val adds = live.filterNot(prevFiles.toSet)
    val gone = prevFiles.filterNot(live.toSet)
    val deltas =
      adds.map(r => "+" + java.net.URLEncoder.encode(r, "UTF-8")) ++
      gone.sorted.map(r => "-" + java.net.URLEncoder.encode(r, "UTF-8"))
    val delCol =
      if (last.map(_.deletes).getOrElse(None) == dels) "~"
      else dels.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse("-")
    val posCol =
      if (last.map(_.posdels).getOrElse(None) == poss) "~"
      else poss.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse("-")
    val version = last.map(_.version).getOrElse(0L) + 1
    val millis = System.currentTimeMillis()
    val line = Seq(
      version.toString,
      millis.toString,
      java.net.URLEncoder.encode(kind, "UTF-8"),
      delCol,
      if (deltas.isEmpty) "-" else deltas.mkString(","),
      posCol).mkString("\t")
    val existing =
      if (jf.isFile)
        new String(java.nio.file.Files.readAllBytes(jf.toPath), "UTF-8")
      else ""
    // the state replayed above is the journal just read: unchanged
    // identity, and the snapshot cache holds `prior` for it
    val seeded = FileIdentity.of(jf) == read0 && read0.forall(id =>
      Option(snapshotsCache.get(key)).exists(h => h._1 == id && (h._2 eq prior)))
    val tmp = new File(jf.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      (existing + line + "\n").getBytes("UTF-8"))
    val written = FileIdentity.of(tmp)
    if (!tmp.renameTo(jf)) throw new java.io.IOException(
      s"graft-avro commit: rename failed $tmp -> $jf")
    // seed both caches with what a parse of the written journal yields
    for (w <- written if seeded) {
      val files =
        if (gone.isEmpty) prevFiles.toVector ++ adds
        else (prevFiles.toVector ++ adds).filterNot(gone.toSet)
      cacheJournal(key, w,
        prior :+ Snapshot(version, millis, kind, dels, files, poss),
        snapshotsCache)
      val priorBirths = read0 match {
        case None => Some(Map.empty[String, Long])
        case Some(id) => Option(birthsCache.get(key)).filter(_._1 == id).map(_._2)
      }
      priorBirths.foreach { bs =>
        val born = if (prior.isEmpty) 0L else version
        cacheJournal(key, w,
          bs ++ adds.filterNot(bs.contains).map(_ -> born), birthsCache)
      }
    }
  }

  /** Resolve a snapshot's relative path to its physical file: live
    * first (names are generation-unique), then the archive. A miss means
    * the snapshot was vacuumed by [[AvroMaintenance.expireSnapshots]].
    */
  def resolveSnapshotFile(d: File, rel: String): File = {
    val live = new File(d, rel)
    if (live.isFile) live
    else {
      val arch = new File(archiveDir(d), rel)
      if (arch.isFile) arch
      else throw new IllegalStateException(
        s"graft-avro: snapshot file '$rel' no longer exists under $d " +
          "(expired/vacuumed snapshot)")
    }
  }

  /** Named refs (`_graft_refs`): human-named pointers at snapshot
    * versions — Iceberg tags. `nameEnc TAB version` lines; tags resolve
    * through the same versionAsOf machinery and PIN their versions
    * against [[AvroMaintenance.expireSnapshots]].
    */
  def refsFile(d: File): File = new File(d, "_graft_refs")

  def readRefs(d: File): Map[String, Long] = {
    val rf = refsFile(d)
    if (!rf.isFile) return Map.empty
    val src = scala.io.Source.fromFile(rf, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(n, v) => java.net.URLDecoder.decode(n, "UTF-8") -> v.toLong
        case _ => throw new IllegalStateException(
          s"graft-avro: corrupt refs line '$line' in $rf")
      }
    }.toMap
    finally src.close()
  }

  private[sources] def writeRefs(d: File, refs: Map[String, Long]): Unit = {
    val rf = refsFile(d)
    if (refs.isEmpty) { rf.delete(); return }
    val tmp = new File(rf.getPath + ".staging")
    java.nio.file.Files.write(tmp.toPath,
      refs.toSeq.sortBy(_._1).map { case (n, v) =>
        s"${java.net.URLEncoder.encode(n, "UTF-8")}\t$v"
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(rf)) throw new java.io.IOException(
      s"graft-avro refs: rename failed $tmp -> $rf")
  }

  // ------------------------------------------------------------------
  // Branches (write-audit-publish) — append-only staging overlays.
  //
  // A branch is a self-contained graft-avro table directory under
  // `_graft_branches/<name>/` inside the main table (the `_graft` prefix
  // keeps it invisible to every main-table listing walk), plus a
  // `_graft_fork` file recording the main-journal version it forked
  // from. Branch WRITES are ordinary batch commits into the overlay —
  // they get the full commit stack (snapshot journal, zone/bloom/stats
  // manifests) for free and never touch main's state. A branch READ
  // serves main's FORK-version snapshot unioned with the overlay's live
  // files, so audits (row counts, q_validate-style checks) see exactly
  // what a publish would produce. Publish is strictly FAST-FORWARD:
  // main must still sit at the fork version, data files move (rename,
  // never rewrite) into main preserving relative layout — sound because
  // batch file names carry a generation-unique random component — and
  // one commit snapshot makes the whole staged set visible atomically.
  // Branches are append-only: an overlay delete sidecar or a truncate
  // through the branch write path fails loudly, which is what keeps the
  // publish a pure file move.
  // ------------------------------------------------------------------

  def branchesDir(d: File): File = new File(d, "_graft_branches")

  def branchDir(d: File, name: String): File = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"graft-avro: bad branch name '$name' (letters/digits/_/- only)")
    new File(branchesDir(d), name)
  }

  def branchForkFile(bd: File): File = new File(bd, "_graft_fork")

  /** Resolve an existing branch to (fork version, overlay dir); loud
    * failure when the branch does not exist — reads and writes must
    * never invent an implicit empty branch.
    */
  def branchFork(d: File, name: String): (Long, File) = {
    val bd = branchDir(d, name)
    val ff = branchForkFile(bd)
    require(bd.isDirectory && ff.isFile,
      s"graft-avro: no branch '$name' under $d (createBranch first)")
    val v = new String(java.nio.file.Files.readAllBytes(ff.toPath),
      "UTF-8").trim.toLong
    (v, bd)
  }

  /** Incremental (CDC-style) read: the files APPENDED strictly after
    * `fromVersion` up to and including `toVersion` — the Iceberg
    * incremental-append scan, the shape nightly ETL consumes a 100 TB
    * table with (process only what arrived since the last watermark,
    * never rescan history). Sound only while every version in the range
    * is purely additive: an overwrite, a compaction, or an equality
    * delete inside the range means the delta is NOT expressible as
    * appended rows, and the read must fail loudly rather than emit a
    * wrong changeset.
    */
  def incrementalFiles(d: File, fromV: Long, toV: Long): Seq[String] = {
    require(fromV >= 0 && toV > fromV,
      s"graft-avro: bad incremental range ($fromV, $toV]")
    val snaps = readSnapshots(d)
    require(snaps.nonEmpty,
      s"graft-avro: no snapshot journal under $d (table predates time travel)")
    require(snaps.exists(_.version == toV),
      s"graft-avro: no snapshot version $toV under $d " +
        s"(have ${snaps.head.version}..${snaps.last.version})")
    require(fromV == 0 || snaps.exists(_.version == fromV),
      s"graft-avro: no snapshot version $fromV under $d " +
        s"(have ${snaps.head.version}..${snaps.last.version})")
    val inRange = snaps.filter(s => s.version > fromV && s.version <= toV)
    val baseFiles =
      if (fromV == 0) Set.empty[String]
      else snaps.find(_.version == fromV).get.files.toSet
    // additive-only guard: each version must keep every prior file and
    // the delete sidecar must not change across the range
    val baseDels =
      if (fromV == 0) None else snaps.find(_.version == fromV).get.deletes
    val basePos =
      if (fromV == 0) None else snaps.find(_.version == fromV).get.posdels
    var prev = baseFiles
    inRange.foreach { s =>
      require(prev.subsetOf(s.files.toSet),
        s"graft-avro: version ${s.version} (${s.kind}) removed files — " +
          "the incremental range is not append-only")
      require(s.deletes == baseDels,
        s"graft-avro: version ${s.version} changed equality deletes — " +
          "the incremental range is not append-only")
      require(s.posdels == basePos,
        s"graft-avro: version ${s.version} changed positional deletes — " +
          "the incremental range is not append-only")
      prev = s.files.toSet
    }
    (snaps.find(_.version == toV).get.files.toSet -- baseFiles)
      .toSeq.sorted
  }

  /** Resolve `fromVersion` / `toVersion` options to a concrete
    * incremental range. `fromVersion` is required for an incremental
    * read (0 = since the beginning); `toVersion` defaults to the latest
    * version.
    */
  def resolveIncremental(d: File,
      fromVersion: Option[Long], toVersion: Option[Long]): Option[(Long, Long)] = {
    if (fromVersion.isEmpty) {
      require(toVersion.isEmpty,
        "graft-avro: toVersion requires fromVersion")
      return None
    }
    val snaps = readSnapshots(d)
    require(snaps.nonEmpty,
      s"graft-avro: no snapshot journal under $d (table predates time travel)")
    Some((fromVersion.get, toVersion.getOrElse(snaps.last.version)))
  }

  /** Resolve `versionAsOf` / `timestampAsOf` options to a concrete
    * version. Exactly one may be set; timestamp resolution picks the
    * LATEST version committed at-or-before the millis instant (the
    * Iceberg/Delta convention).
    */
  def resolveTravelVersion(d: File,
      versionAsOf: Option[Long], timestampAsOf: Option[Long],
      tagAsOf: Option[String] = None): Option[Long] = {
    if (versionAsOf.isEmpty && timestampAsOf.isEmpty && tagAsOf.isEmpty)
      return None
    require(Seq(versionAsOf, timestampAsOf, tagAsOf).count(_.nonEmpty) == 1,
      "graft-avro: set at most one of versionAsOf / timestampAsOf / tagAsOf")
    val fromTag = tagAsOf.map { t =>
      readRefs(d).getOrElse(t, throw new IllegalArgumentException(
        s"graft-avro: no tag '$t' under $d " +
          s"(have ${readRefs(d).keys.toSeq.sorted.mkString(", ")})"))
    }
    val effVersion = versionAsOf.orElse(fromTag)
    val snaps = readSnapshots(d)
    require(snaps.nonEmpty,
      s"graft-avro: no snapshot journal under $d (table predates time travel)")
    effVersion match {
      case Some(v) =>
        require(snaps.exists(_.version == v),
          s"graft-avro: no snapshot version $v under $d " +
            s"(have ${snaps.head.version}..${snaps.last.version})")
        Some(v)
      case None =>
        val ts = timestampAsOf.get
        val at = snaps.filter(_.millis <= ts)
        require(at.nonEmpty,
          s"graft-avro: no snapshot at or before timestamp $ts under $d")
        Some(at.last.version)
    }
  }

  /** String zone bounds longer than this are truncated by the writer
    * (parquet-style); a decoded bound of exactly this length is
    * therefore MAYBE-truncated and unusable as an exact aggregate value.
    */
  val StringBoundMax = 64

  /** String bounds are TRUNCATED parquet-style so a long-text column
    * cannot bloat the manifests (two full document bodies per file per
    * column at corpus scale would turn the one-manifest-read-per-scan
    * design into a gigabyte driver read): a 64-char prefix of min is
    * still a valid lower bound, and max truncates to a 64-char prefix
    * with its last incrementable code unit bumped — strictly above
    * every string sharing the prefix, hence above max. A max whose
    * prefix has no incrementable char (all U+FFFF/high surrogates)
    * yields None — the caller drops the entry (absence ⇒ keep) or keeps
    * the full value, whichever its manifest's semantics need.
    */
  private[sources] def truncBoundMin(s: String): String =
    if (s.length <= StringBoundMax) s
    else {
      val p = s.substring(0, StringBoundMax).toCharArray
      // a cut mid-surrogate-pair leaves a trailing lone high surrogate
      // (which UTF8String would render as '?'): replace with U+0000 —
      // still <= every string extending the shorter prefix, and the
      // length stays AT the cap so truncation remains detectable
      if (Character.isHighSurrogate(p(p.length - 1))) p(p.length - 1) = ' '
      new String(p)
    }
  private[sources] def truncBoundMax(s: String): Option[String] = {
    if (s.length <= StringBoundMax) return Some(s)
    val p = s.substring(0, StringBoundMax).toCharArray
    var i = p.length - 1
    while (i >= 0) {
      val c = p(i)
      // incrementing must stay a +1 code-point step in UTF-8 order:
      // skip chars whose successor enters the surrogate range or
      // overflows, and skip surrogates entirely
      if (c < 0xD7FF || (c >= 0xE000 && c < 0xFFFF)) {
        // pad back to the cap with U+0000 so the result length is
        // ALWAYS StringBoundMax — the aggregate paths detect
        // maybe-truncated bounds by length, and a bump at an earlier
        // index would otherwise come out short and masquerade as an
        // exact value; comparison is decided at the bumped position,
        // so any suffix keeps the bound strictly above the original
        val bumped = new String(p, 0, i) + (c + 1).toChar
        return Some(bumped + " " * (StringBoundMax - bumped.length))
      }
      i -= 1
    }
    None
  }

  /** Whether a stats cell recorded under type tag `tag` applies to a
    * column read as `dt`. The tag is `kind` (`""` for bounds, `cnt:`,
    * `sum:`) followed by a leaf type's `simpleString`: the read type's
    * own, or `int` under a `bigint` read type. ALTER COLUMN TYPE's
    * int → bigint widening is exact — every int bound, count and sum
    * reads unchanged as a long — so pre-widen cells keep pruning and
    * serving metadata aggregates. Other widenings (to double) change the
    * value domain and leave their cells unread.
    */
  private[sources] def cellTypeApplies(tag: String,
      dt: org.apache.spark.sql.types.DataType, kind: String = ""): Boolean =
    tag.startsWith(kind) && {
      val t = tag.substring(kind.length)
      t == dt.simpleString || (dt == LongType && t == "int")
    }

  /** (colEnc, type tag, slot 1, slot 2) of all-column manifest lines by
    * relative path, values still encoded.
    */
  private def colZonesByRel(lines: Seq[StatsManifests.Line])
      : Map[String, Seq[(String, String, String, String)]] =
    lines.groupMap(_.rel)(l => (l(1), l(2), l(3), l(4)))

  private[sources] def readColZonesRaw(zf: File)
      : Map[String, Seq[(String, String, String, String)]] =
    colZonesByRel(StatsManifests.read(StatsManifests.ColZones, zf)(_.toVector))

  /** Per-live-file EXACT-bounds providers for tri-state filter
    * decisions ([[AvroFilterEval.zoneDecides]]): each file pairs with a
    * `col => Option[(mn, mx)]` answering from its hive partition-path
    * value (an exact non-null point for ANY column — the value is
    * materialized into every row) or its column-zone entry (for
    * TOP-LEVEL non-float columns that are NON-NULLABLE — zone bounds
    * cover non-null values, and a null row matches no compare, so
    * no-nulls is what makes "all values" mean "all rows" — OR whose
    * `cnt:` cell proves THIS FILE holds zero nulls; float/double
    * excluded for NaN exactness), plus a `col => Option[(noNulls,
    * allNulls)]` null-state provider behind IS [NOT] NULL decisions.
    * None (whole call) when a column-rename view exists — zone entries
    * live under historical names. Shared by full filter pushdown and
    * zone-decided metadata DELETE; both must stay decision-compatible.
    */
  private[sources] def decisionBounds(dir: File, full: StructType,
      manifest: ZoneIndex.Zones)
      : Option[Seq[(File, String => Option[(Any, Any)],
        String => Option[(Boolean, Boolean)])]] = {
    if (colmapFile(dir).isFile) return None
    val files = listLive(dir)
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val nonFloat: Set[String] = full.fields.collect {
      case fld if fld.dataType != DoubleType &&
          fld.dataType != FloatType => fld.name
    }.toSet
    val nonNullable: Set[String] =
      full.fields.collect { case fld if !fld.nullable => fld.name }.toSet
    Some(files.map { case (f, partVals) =>
      val abs = f.getAbsolutePath
      val nullStateOf: String => Option[(Boolean, Boolean)] = col =>
        partVals.get(col) match {
          // a partition-path point value is materialized into every
          // row: non-null value ⇒ no nulls; the `__null__` dir ⇒ all
          case Some(raw) => Some((raw != "__null__", raw == "__null__"))
          case None =>
            if (nonNullable.contains(col)) Some((true, false))
            else manifest.nullCellsOf(col).get(abs).map { case (nn, total) =>
              (nn == total, nn == 0L)
            }
        }
      val boundsOf: String => Option[(Any, Any)] = col =>
        partVals.get(col) match {
          case Some(raw) =>
            full.fields.find(_.name == col).flatMap(fld =>
              castPartitionValue(raw, fld.dataType))
              .filter(_ != null).map(v => (v, v))
          case None =>
            // the no-null guarantee zoneDecides' all-match rules need:
            // declared non-nullable, or cnt-cell-proven for this file
            if (!nonFloat(col)) None
            else if (!nonNullable.contains(col) &&
              !manifest.nullCellsOf(col).get(abs).exists {
                case (nn, t) => nn == t }) None
            else manifest.boundsOf(col).get(abs)
        }
      (f, boundsOf, nullStateOf)
    })
  }

  /** Parse a `sortedBy` spec: comma-separated LEXICOGRAPHIC sort
    * columns (`"c1"` or `"c1,c2"`). A multi-column claim means every
    * file is internally sorted by the full tuple (ascending,
    * nulls-first per column) — which implies it is also sorted by any
    * PREFIX, so all single-column machinery (scan ordering, the block
    * index, the `stats` table's sort row) keys on the head column and
    * stays sound unchanged.
    */
  def sortCols(spec: String): Seq[String] =
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The verified sort claim's full column list (empty = no claim).
    * Legacy single-column markers parse as one-element lists.
    */
  def sortedColumnsOf(d: File): Seq[String] = {
    val m = sortMarker(d)
    if (!m.isFile) Nil
    else sortCols(new String(java.nio.file.Files.readAllBytes(m.toPath),
      "UTF-8"))
  }

  /** The PRIMARY (head) column of the verified sort claim, if any. */
  def sortedColumnOf(d: File): Option[String] = sortedColumnsOf(d).headOption

  /** Recursive listing with Hive-style partition values parsed from
    * `k=v` directory segments (URL-encoded on write; `__null__` encodes
    * a null partition value). Flat directories yield empty maps.
    */
  def listPartitioned(d: File): Seq[(File, Map[String, String])] = {
    def walk(dir: File, vals: Map[String, String]): Seq[(File, Map[String, String])] = {
      val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      val here = entries.filter(f => f.isFile && f.getName.endsWith(".avro"))
        .sortBy(_.getName).map(f => (f, vals))
      // `_graft*` subdirectories are engine metadata (the snapshot
      // archive), never data partitions — a hive layout can't produce
      // them since partition dir names are `key=value`
      val below = entries.filter(d => d.isDirectory &&
          !d.getName.startsWith("_graft"))
        .sortBy(_.getName).flatMap { sub =>
        sub.getName.split("=", 2) match {
          // keep the RAW segment: only the exact raw "__null__" means a
          // null value; a literal "__null__" STRING was force-encoded on
          // write, so the raw forms differ (castPartitionValue decodes)
          case Array(k, v) => walk(sub, vals + (k -> v))
          case _ => walk(sub, vals)
        }
      }
      (here ++ below).toSeq
    }
    walk(d, Map.empty)
  }

  /** Hive-style partition values parsed from a table-RELATIVE path's
    * `k=v` directory segments (raw, still URL-encoded — the same shape
    * [[listPartitioned]]'s walk produces).
    */
  def partValsOfRel(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

  /** The LIVE file listing for scan planning, served from the snapshot
    * journal when one exists: one sidecar read instead of a recursive
    * directory walk — at object-store scale (100k+ files) the walk is
    * the planning bottleneck, and every commit path already journals
    * the exact live set under the table lock, so the last snapshot IS
    * the live state. Directories without a journal (legacy/foreign
    * writers) fall back to the walk. Consequence, pinned by
    * JournalPlanSpec: once a table is journaled, a file smuggled into
    * the directory outside a commit is invisible until a commit
    * journals it — Iceberg semantics, and strictly safer than racing a
    * half-visible write.
    */
  def listLive(d: File): Seq[(File, Map[String, String])] =
    readSnapshots(d).lastOption match {
      case Some(snap) => snap.files.sorted.map { rel =>
        (new File(d, rel), partValsOfRel(rel))
      }
      case None => listPartitioned(d)
    }

  /** Cast a partition-directory string back to the column's type for
    * pruning comparisons; None when unparsable (then never prune).
    */
  def castPartitionValue(rawSeg: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    if (rawSeg == "__null__") return Some(null)
    val raw = java.net.URLDecoder.decode(rawSeg, "UTF-8")
    try Some(dt match {
      case StringType => raw
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case FloatType => raw.toFloat
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case _: DecimalType => new java.math.BigDecimal(raw)
      case BooleanType => raw.toBoolean
      case DateType => java.sql.Date.valueOf(raw)
      case TimestampType => java.sql.Timestamp.valueOf(raw)
      case _ => return None
    })
    catch { case _: IllegalArgumentException => None }
  }

  /** Job-commit fold of the per-file stats sidecars every commit
    * carries ([[StatsManifests.Folded]]): alive-filtered merge of prior
    * entries with this commit's fresh ones. Shared by the batch write
    * commit, the streaming epoch commit, the delta (merge-on-read)
    * row-level commit and analyze; all are pruning/stat-only, so
    * partial coverage is sound.
    */
  private[sources] def foldStatsManifests(dirF: File,
      messages: Seq[AvroCommitMessage],
      aliveHint: Option[Set[String]] = None): Option[Set[String]] = {
    var walked: Option[Set[String]] = aliveHint
    // ONE directory walk shared by every family, taken only when some
    // family folds. A caller that already holds the listing passes it via
    // aliveHint; the walk actually taken is RETURNED so the journal
    // append can reuse it.
    def aliveSet: Set[String] = walked.getOrElse {
      val base = dirF.getAbsoluteFile.toPath
      val w = listAvro(dirF)
        .map(f => base.relativize(f.getAbsoluteFile.toPath).toString)
        .toSet
      walked = Some(w)
      w
    }
    StatsManifests.Folded.foreach { fam =>
      if (StatsManifests.folds(fam, dirF, messages))
        StatsManifests.fold(fam, dirF, messages, aliveSet)
    }
    walked
  }
}

case class AvroTable(path: String, tableSchema: StructType,
    defaultPartitionBy: Seq[String] = Nil,
    travelOptions: Map[String, String] = Map.empty)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Stored CHECK constraints surfaced to Spark (DESCRIBE, analyzer
    * awareness): enforced, and VALID — addConstraint validated existing
    * rows and every write since was policed by the writer decorator.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    AvroFileSource.readConstraints(new File(path)).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** SQL `UPDATE` / `MERGE INTO` / rewrite-`DELETE`. Two modes, chosen
    * by the `_graft_rowlevel` sidecar ([[AvroFileSource.rowLevelMode]]):
    *
    * GROUP-BASED copy-on-write (default): Spark scans the table through
    * this operation's scan (which declares `_graft_file`
    * runtime-filterable, so a dynamic subquery narrows it to the files
    * that actually contain matches), computes the replacement rows, and
    * writes them through this operation's write — whose commit archives
    * EXACTLY the scanned files and publishes the rewrites as one
    * snapshot.
    *
    * DELTA-BASED merge-on-read ([[SupportsDelta]]): the scan serves
    * ONLY the matched rows (filters push and row-skip normally — no
    * group-exactness needed, file pruning via zones/blooms applies),
    * row identity is the `(_graft_file, _graft_pos)` metadata pair, and
    * the write turns deletes into `_graft_posdel` positions and
    * update/merge inserts into plain appended files
    * ([[AvroDeltaWriteBuilder]]). O(changed rows), not O(rewritten
    * files) — the sparse-update shape a 100 TB table needs.
    *
    * Equality `DELETE FROM` keeps taking the pure-metadata sidecar path
    * and zone-decided DELETE the file-drop path (canDeleteWhere) in
    * BOTH modes; everything else lands here.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(travelOptions.isEmpty,
      "graft-avro: a VERSION AS OF / TIMESTAMP AS OF / .changes " +
        "table is read-only")
    if (AvroFileSource.rowLevelMode(new File(path)) ==
        AvroFileSource.MergeOnRead)
      return () => new org.apache.spark.sql.connector.write.RowLevelOperation
          with org.apache.spark.sql.connector.write.SupportsDelta {
        override def command()
            : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
          info.command()
        override def newScanBuilder(
            options: CaseInsensitiveStringMap): ScanBuilder =
          new AvroScanBuilder(path, tableSchema)
        override def rowId()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          Array(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(AvroFileSource.MetaFile),
            org.apache.spark.sql.connector.expressions.Expressions
              .column(AvroFileSource.MetaPos))
        override def representUpdateAsDeleteAndInsert(): Boolean = true
        override def newWriteBuilder(winfo: LogicalWriteInfo)
            : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
          new AvroDeltaWriteBuilder(path, winfo,
            partitionBy = defaultPartitionBy)
        override def requiredMetadataAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          Array.empty
      }
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      private val captured = new java.util.concurrent.atomic
        .AtomicReference[AvroFileSource.RowLevelScanState](
          AvroFileSource.RowLevelScanState(Set.empty, None))
      override def command()
          : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new AvroScanBuilder(path, tableSchema,
          rowLevelCapture = Some(captured))
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
        new AvroWriteBuilder(path, winfo.schema(),
          partitionBy = defaultPartitionBy,
          replaceState = Some(() => captured.get()))
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(AvroFileSource.MetaFile))
    }
  }

  /** SQL `DELETE FROM … WHERE` as a METADATA operation: predicates that
    * translate to exact equality/IN sets on one deletable column become
    * `_graft_deletes` sidecar entries (AvroMaintenance.deleteWhere — no
    * data rewrite); everything else is refused so Spark reports the
    * operation unsupported instead of silently deleting the wrong rows.
    */
  private def translateDelete(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Seq[(String, Seq[Any])]] = {
    import org.apache.spark.sql.connector.expressions.{Literal,
      NamedReference}
    def ext(l: Literal[_]): Option[Any] = l.value() match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case v: java.lang.Long => Some(v)
      case v: java.lang.Integer => Some(v)
      case v: java.lang.Short => Some(v)
      case v: java.lang.Byte => Some(v)
      case v: java.lang.Boolean => Some(v)
      case _ => None
    }
    def one(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
        : Option[(String, Seq[Any])] = {
      val kids = p.children()
      p.name() match {
        case "=" | "IN" if kids.nonEmpty =>
          (kids.head, kids.tail) match {
            case (r: NamedReference, lits)
                if r.fieldNames().length == 1 &&
                  lits.forall(_.isInstanceOf[Literal[_]]) =>
              val col = r.fieldNames()(0)
              val ok = tableSchema.fields.find(_.name == col)
                .exists(f => AvroFileSource.deletableType(f.dataType))
              val vals = lits.toSeq
                .map(l => ext(l.asInstanceOf[Literal[_]]))
              if (ok && vals.nonEmpty && vals.forall(_.isDefined))
                Some(col -> vals.flatten)
              else None
            case _ => None
          }
        case _ => None
      }
    }
    val all = ps.toSeq.map(one)
    if (all.nonEmpty && all.forall(_.isDefined)) Some(all.flatten) else None
  }

  /** V2 Predicate → v1 Filter for the zone-decided file-drop path.
    * Only shapes [[AvroFilterEval.zoneDecides]] understands; literal
    * values restricted to the exact external primitives + dates. A
    * `None` means the predicate can't take the metadata path.
    */
  private def v2ToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.sources._
    def ext(l: Literal[_]): Option[Any] = l.value() match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case v: java.lang.Long => Some(v)
      case v: java.lang.Integer =>
        l.dataType() match {
          case org.apache.spark.sql.types.DateType => Some(
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong)))
          case _ => Some(v)
        }
      case v: java.lang.Short => Some(v)
      case v: java.lang.Byte => Some(v)
      case v: java.lang.Boolean => Some(v)
      case _ => None
    }
    def refLit(kids: Array[org.apache.spark.sql.connector.expressions
        .Expression]): Option[(String, Any)] = kids match {
      case Array(r: NamedReference, l: Literal[_])
          if r.fieldNames().length == 1 =>
        ext(l).map(v => (r.fieldNames()(0), v))
      case _ => None
    }
    p.name() match {
      case "AND" => p.children() match {
        case Array(a: Predicate, b: Predicate) =>
          for (l <- v2ToV1(a); r <- v2ToV1(b)) yield And(l, r)
        case _ => None
      }
      case "OR" => p.children() match {
        case Array(a: Predicate, b: Predicate) =>
          for (l <- v2ToV1(a); r <- v2ToV1(b)) yield Or(l, r)
        case _ => None
      }
      case "=" => refLit(p.children()).map { case (c, v) => EqualTo(c, v) }
      case "<" => refLit(p.children()).map { case (c, v) => LessThan(c, v) }
      case "<=" => refLit(p.children()).map { case (c, v) => LessThanOrEqual(c, v) }
      case ">" => refLit(p.children()).map { case (c, v) => GreaterThan(c, v) }
      case ">=" => refLit(p.children()).map { case (c, v) => GreaterThanOrEqual(c, v) }
      case "IN" => (p.children().headOption, p.children().drop(1)) match {
        case (Some(r: NamedReference), lits)
            if r.fieldNames().length == 1 &&
              lits.forall(_.isInstanceOf[Literal[_]]) =>
          val vals = lits.map(l => ext(l.asInstanceOf[Literal[_]]))
          if (vals.forall(_.isDefined))
            Some(In(r.fieldNames()(0), vals.flatten))
          else None
        case _ => None
      }
      case "IS_NULL" => p.children() match {
        case Array(r: NamedReference) if r.fieldNames().length == 1 =>
          Some(IsNull(r.fieldNames()(0)))
        case _ => None
      }
      case "IS_NOT_NULL" => p.children() match {
        case Array(r: NamedReference) if r.fieldNames().length == 1 =>
          Some(IsNotNull(r.fieldNames()(0)))
        case _ => None
      }
      case _ => None
    }
  }

  /** Zone-DECIDED metadata DELETE (the Iceberg drop-partition shape):
    * when every live file either all-matches or none-matches the
    * predicate conjunction — provable from partition-path values or
    * column zones — the delete is pure metadata: all-match files
    * archive out (their rows all die), none-match files are untouched,
    * no data rewrite anywhere. Undecidable anywhere → None, and Spark
    * falls back to the group-based rewrite. Returns the files to drop.
    */
  private def zoneDropPlan(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Seq[File]] = {
    if (travelOptions.nonEmpty || ps.isEmpty) return None
    val v1 = ps.toSeq.map(v2ToV1)
    if (v1.exists(_.isEmpty)) return None
    // rows die iff ALL conjuncts match: decide the conjunction per file
    val cond = v1.flatten.reduce(org.apache.spark.sql.sources.And(_, _))
    val bounds = AvroFileSource.decisionBounds(new File(path), tableSchema,
      ZoneIndex.of(new File(path), tableSchema))
      .getOrElse(return None)
    val decisions = bounds.map { case (f, boundsOf, nullsOf) =>
      (f, AvroFilterEval.zoneDecides(boundsOf, cond, nullsOf))
    }
    if (decisions.exists(_._2.isEmpty)) None
    else Some(decisions.collect { case (f, Some(true)) => f })
  }

  override def canDeleteWhere(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = translateDelete(ps).isDefined || zoneDropPlan(ps).isDefined

  /** SQL `TRUNCATE TABLE` as a VERSIONED operation: every live file is
    * archived (earlier snapshots still reference it — time travel works
    * across the truncate; expireSnapshots is the vacuum), both delete
    * sidecars clear, and the journal minting records the empty state.
    * Mirrors the write-path truncate commit exactly, minus new files.
    */
  override def truncateTable(): Boolean = {
    require(travelOptions.isEmpty,
      "graft-avro: a VERSION AS OF / TIMESTAMP AS OF / .changes " +
        "table is read-only")
    val dirF = new File(path)
    AvroFileSource.withCommitLock(dirF) {
    val base = dirF.getAbsoluteFile.toPath
    AvroFileSource.listAvro(dirF).foreach { f =>
      val rel = base.relativize(f.getAbsoluteFile.toPath).toString
      val dst = new File(AvroFileSource.archiveDir(dirF), rel)
      dst.getParentFile.mkdirs()
      if (dst.exists()) throw new java.io.IOException(
        s"graft-avro truncate: archive collision $dst")
      if (!f.renameTo(dst)) throw new java.io.IOException(
        s"graft-avro truncate: archive move failed $f -> $dst")
      AvroFileSource.stampArchived(dst)
    }
    AvroFileSource.deleteFile(dirF).delete()
    AvroFileSource.posdelFile(dirF).delete()
    // the documented "truncate to re-bucket" escape hatch must work
    // through SQL TRUNCATE too, not just the DataFrame overwrite path:
    // all live files are archived, so dropping the bucket spec is sound
    // (bucket pruning already self-disables under travel reads)
    AvroFileSource.bucketFile(dirF).delete()
    AvroTransforms.xformFile(dirF).delete()
    AvroFileSource.appendSnapshot(dirF, "truncate")
    true
    }
  }

  override def deleteWhere(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = translateDelete(ps) match {
    case Some(ts) =>
      val spark = org.apache.spark.sql.SparkSession.active
      ts.groupBy(_._1).foreach { case (col, entries) =>
        AvroMaintenance.deleteWhere(spark, path, col,
          entries.flatMap(_._2).distinct)
      }
    case None =>
      // zone-decided file drop. The plan is RECOMPUTED under the commit
      // lock — a commit between canDeleteWhere and here could add an
      // undecided file, and archiving from a stale plan would delete
      // wrong rows; a no-longer-decidable state fails loudly instead.
      val dirF = new File(path)
      AvroFileSource.withCommitLock(dirF) {
        val drop = zoneDropPlan(ps).getOrElse(throw new IllegalStateException(
          "graft-avro: DELETE no longer zone-decidable (concurrent " +
            "commit changed the table) — retry the statement"))
        if (drop.nonEmpty) {
          val base = dirF.getAbsoluteFile.toPath
          val rels = drop.map(f =>
            base.relativize(f.getAbsoluteFile.toPath).toString).toSet
          drop.foreach { f =>
            val rel = base.relativize(f.getAbsoluteFile.toPath).toString
            val dst = new File(AvroFileSource.archiveDir(dirF), rel)
            dst.getParentFile.mkdirs()
            if (dst.exists()) throw new java.io.IOException(
              s"graft-avro delete: archive collision $dst")
            if (!f.renameTo(dst)) throw new java.io.IOException(
              s"graft-avro delete: archive move failed $f -> $dst")
            AvroFileSource.stampArchived(dst)
          }
          // positional deletes of dropped files die with their file
          val pd = AvroFileSource.readPosdel(dirF)
          if (pd.exists(e => rels.contains(e._1)))
            AvroFileSource.writePosdelSidecar(dirF, pd -- rels)
          AvroFileSource.appendSnapshot(dirF, "delete")
        }
      }
  }

  override def name(): String = s"graft-avro:$path"

  /** Surface stored writer-layout properties (SHOW TBLPROPERTIES,
    * DESCRIBE EXTENDED) — read from the sidecar, so catalog instances
    * and path readers always agree.
    */
  override def properties(): util.Map[String, String] =
    AvroFileSource.readProps(new File(path)).asJava

  /** Declared partitioning (DESCRIBE, and the analyzer's static
    * `PARTITION (p = 'x')` clause validation + constant-fill): identity
    * columns plus any established `bucket(N, col)` hidden transforms —
    * from the sidecar once data exists, else the declared property.
    */
  override def partitioning(): Array[Transform] = {
    val sidecar = AvroFileSource.readBucketSpec(new File(path))
    val spec =
      if (sidecar.nonEmpty) sidecar
      else AvroFileSource.readProps(new File(path)).get("graft.bucketBy")
        .map(AvroFileSource.parseBucketBy).getOrElse(Nil)
    val xsidecar = AvroTransforms.read(new File(path))
    val xspec =
      if (xsidecar.nonEmpty) xsidecar
      else AvroFileSource.readProps(new File(path)).get("graft.transformBy")
        .map(AvroTransforms.parse).getOrElse(Nil)
    (defaultPartitionBy.map(c => Expressions.identity(c): Transform) ++
      spec.map { case (c, n) => Expressions.bucket(n, c): Transform } ++
      xspec.map { x =>
        (x.kind match {
          case "year" => Expressions.years(x.col)
          case "month" => Expressions.months(x.col)
          case "day" => Expressions.days(x.col)
          case "hour" => Expressions.hours(x.col)
          case "trunc" => Expressions.apply("truncate",
            Expressions.literal(x.arg), Expressions.column(x.col))
        }): Transform
      }).toArray
  }
  override def schema(): StructType = tableSchema

  /** Hidden METADATA COLUMNS (the Iceberg `_file`/`_pos` analogue):
    * `_graft_file` is the table-relative path of the row's data file,
    * `_graft_pos` its 0-based physical ordinal in that file — exactly
    * the coordinates [[AvroMaintenance.deleteAtPositions]] consumes, so
    * `SELECT _graft_file, _graft_pos WHERE <bad>` → positional delete
    * is a closed loop. Requesting `_graft_pos` disables byte-range
    * splitting (an ordinal only counts from the file start).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    Array(
      new MetadataColumn {
        override def name(): String = AvroFileSource.MetaFile
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String = "table-relative data file path"
      },
      new MetadataColumn {
        override def name(): String = AvroFileSource.MetaPos
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = false
        override def comment(): String = "0-based physical row ordinal"
      })
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE INTO … WITH SCHEMA EVOLUTION: the analyzer turns source
      // columns the target lacks into AddColumn table changes and
      // applies them through the catalog BEFORE the merge — the same
      // version-stamped `_graft_evo` journal as an explicit ALTER, so
      // old files null-default the new columns at decode. Only merges
      // carrying the explicit clause evolve; a plain MERGE still
      // resolves strictly.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options0: CaseInsensitiveStringMap): ScanBuilder = {
    // SQL `VERSION AS OF` / `TIMESTAMP AS OF` arrives as catalog-bound
    // travel options (GraftCatalog.loadTable(_, version/timestamp)) —
    // merged here so the whole travel machinery is shared with the
    // path-based read options
    val options =
      if (travelOptions.isEmpty) options0
      else new CaseInsensitiveStringMap(
        (options0.asScala ++ travelOptions).asJava)
    // positional deletes journal per version since r16, so historical
    // reads apply each snapshot's exact recorded overlay. The only
    // refusal left is a LEGACY overlay (live sidecar differing from the
    // last journaled state — its arrival versions are unknowable)
    require(!AvroFileSource.posdelFile(new File(path)).isFile ||
      (options.get("versionAsOf") == null &&
        options.get("timestampAsOf") == null &&
        options.get("tagAsOf") == null &&
        options.get("fromVersion") == null &&
        options.get("branch") == null) ||
      AvroFileSource.posdelContent(new File(path)) ==
        AvroFileSource.readSnapshots(new File(path))
          .lastOption.flatMap(_.posdels),
      "graft-avro: time-travel / incremental / branch reads are " +
        "unavailable while UNJOURNALED positional deletes are pending " +
        "(a legacy overlay predating posdel journaling) — compact first")
    new AvroScanBuilder(path, tableSchema,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxSplitBytes")).map(_.toLong)
        .getOrElse(AvroFileSource.DefaultSplitBytes),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      // SQL reads can't pass options: the table property opts a table
      // into key-grouped reporting declaratively (explicit option wins)
      Option(options.get("preservePartitioning"))
        .orElse(AvroFileSource.readProps(new File(path))
          .get("graft.preservePartitioning"))
        .exists(_.toBoolean),
      Option(options.get("journalCompactAfter")).map(_.toInt).getOrElse(4096),
      AvroFileSource.resolveTravelVersion(new File(path),
        Option(options.get("versionAsOf")).map(_.toLong),
        Option(options.get("timestampAsOf")).map(_.toLong),
        Option(options.get("tagAsOf"))),
      AvroFileSource.resolveIncremental(new File(path),
        Option(options.get("fromVersion")).map(_.toLong),
        Option(options.get("toVersion")).map(_.toLong)),
      Option(options.get("branch")).map(_.trim).filter(_.nonEmpty),
      columnarRows =
        if (Option(options.get("columnar")).forall(_.toBoolean))
          AvroFileSource.ColumnarBatchRows
        else 0,
      restrictFiles = {
        val rf = Option(options.get("restrictFiles")).map(s =>
          s.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        require(rf.isEmpty || options.get("versionAsOf") != null,
          "graft-avro: restrictFiles is internal to snapshot-pinned " +
            "reads (requires versionAsOf)")
        rf
      },
      cdcFeed = Option(options.get("readChangeFeed")).exists(_.toBoolean),
      cdcStartVersion =
        Option(options.get("startingVersion")).map(_.toLong),
      cdcMaxVersions =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      cdcEndVersion =
        Option(options.get("endingVersion")).map(_.toLong),
      cdcAllowInitialSnapshot =
        Option(options.get("allowInitialSnapshot")).exists(_.toBoolean),
      branchOverlayOnly = {
        val oo = Option(options.get("branchOverlayOnly"))
          .exists(_.toBoolean)
        require(!oo || options.get("branch") != null,
          "graft-avro: branchOverlayOnly requires a branch read")
        oo
      })
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(travelOptions.isEmpty,
      "graft-avro: a VERSION AS OF / TIMESTAMP AS OF / .changes " +
        "table is read-only")
    require(info.options().get("versionAsOf") == null &&
        info.options().get("timestampAsOf") == null &&
        info.options().get("fromVersion") == null &&
        info.options().get("tagAsOf") == null,
      "graft-avro: time travel is a read option; writes always target " +
        "the current version")
    // a branch write is an ordinary batch commit into the overlay dir —
    // the full commit stack (journal, zones, blooms, stats) rides along;
    // the overlay must already exist (createBranch first) and stays
    // append-only (truncate through this path fails in the builder)
    val branchW =
      Option(info.options().get("branch")).map(_.trim).filter(_.nonEmpty)
    val target = branchW match {
      case Some(b) => AvroFileSource.branchFork(new File(path), b)._2.getPath
      case None => path
    }
    // declarative writer-layout properties (`_graft_props`): table-level
    // defaults for the per-write options, so SQL INSERTs get the
    // declared layout; an explicit write option always overrides
    val props = AvroFileSource.readProps(new File(path))
    def opt(name: String): Option[String] =
      Option(info.options().get(name)).orElse(props.get(s"graft.$name"))
    def cols(name: String): Seq[String] =
      opt(name).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    new AvroWriteBuilder(target, info.schema(),
      opt("codec").getOrElse(AvroFileSource.DefaultCodec),
      // catalog tables carry their DDL partitioning; an explicit write
      // option overrides it
      Option(info.options().get("partitionBy")).map(_.split(',').toSeq
          .map(_.trim).filter(_.nonEmpty))
        .getOrElse(defaultPartitionBy),
      opt("sortedBy").map(_.trim).filter(_.nonEmpty),
      cols("bloomFor"),
      cols("ndvFor"),
      cols("trigramFor"),
      chunkBloomFor = cols("chunkBloomFor"),
      chunkTrigramFor = cols("chunkTrigramFor"),
      branchWrite = branchW.nonEmpty,
      requestSort = opt("requestSort").exists(_.toBoolean),
      checkOption =
        Option(info.options().get("check")).map(_.trim).filter(_.nonEmpty),
      // constraints govern from the MAIN table even for branch staging
      constraintsDir = Some(path),
      targetFileBytes = opt("targetFileBytes").map(_.trim.toLong)
        .filter(_ > 0L),
      bucketBy = opt("bucketBy").map(AvroFileSource.parseBucketBy)
        .getOrElse(Nil),
      transformBy = opt("transformBy").map(AvroTransforms.parse)
        .getOrElse(Nil),
      staticOverwritePartition =
        Option(info.options().get("overwritePartition")).map { s =>
          s.split("\t", 2) match {
            case Array(c, v) if c.nonEmpty => Seq((c, v))
            case _ => throw new IllegalArgumentException(
              "graft-avro: overwritePartition expects 'col<TAB>value'")
          }
        })
  }
}

class AvroScanBuilder(path: String, full: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    maxSplitBytes: Long = AvroFileSource.DefaultSplitBytes,
    maxBytesPerTrigger: Option[Long] = None,
    preserveGrouping: Boolean = false,
    journalCompactAfter: Int = 4096,
    travelVersion: Option[Long] = None,
    incRange: Option[(Long, Long)] = None,
    branch: Option[String] = None,
    // vectorized decode batch size; 0 disables (`.option("columnar",
    // false)`) — fallback cases are decided per factory, this is the
    // user-level master switch
    columnarRows: Int = AvroFileSource.ColumnarBatchRows,
    // group-based row-level ops (UPDATE / MERGE / rewrite-DELETE): the
    // scan declares `_graft_file` runtime-filterable so Spark narrows it
    // to the affected files, and records the file set it finally planned
    // — the write side replaces EXACTLY those files at commit
    rowLevelCapture: Option[java.util.concurrent.atomic
      .AtomicReference[AvroFileSource.RowLevelScanState]] = None,
    // INTERNAL (AvroMaintenance.changes): restrict a versionAsOf scan
    // to this set of the snapshot's relative paths — the CDC reader
    // serves "rows of the files added/removed between two versions"
    // without re-reading the unchanged bulk. Schema inference still
    // runs over the FULL snapshot (a subset must not narrow the view).
    restrictFiles: Option[Set[String]] = None,
    // CDC change feed (`readChangeFeed=true`): offsets are journal
    // VERSIONS; each micro-batch (or the whole batch read's
    // (startingVersion-1, endingVersion] range) serves the per-version
    // file deltas as insert/delete rows tagged `_change_type` +
    // `_commit_version`. Batch reads default to the full journal and
    // accept `endingVersion`; streams tail from `startingVersion`.
    cdcFeed: Boolean = false,
    cdcStartVersion: Option[Long] = None,
    cdcMaxVersions: Option[Long] = None,
    cdcEndVersion: Option[Long] = None,
    // opt-in: a startingVersion below the journal's rebase horizon
    // (expireSnapshots) serves the first retained version as a full
    // insert snapshot, then continues with deltas — explicit because a
    // silent full replay would surprise a lagging consumer
    cdcAllowInitialSnapshot: Boolean = false,
    // INTERNAL (AvroMaintenance.branchChanges): a branch read that
    // plans ONLY the overlay's files — the audit feed must not scan
    // main's (100 TB) bulk to discard it row-by-row. Schema inference
    // still covers main ∪ overlay.
    branchOverlayOnly: Boolean = false)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  require(branch.isEmpty || (travelVersion.isEmpty && incRange.isEmpty),
    "graft-avro: branch is exclusive with time travel / incremental reads")

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // `_graft_zones_cols` as of this scan's planning: decided pushdown and
  // the Scan's zone and null-cell views read the zone index's views, the
  // metadata aggregates and column stats the lines, parsed at most once
  // (live reads only — every consumer stands down for travel, branch and
  // incremental reads)
  private lazy val colZones = ZoneIndex.of(new File(path), full)
  private lazy val colZonesRaw =
    AvroFileSource.readColZonesRaw(AvroFileSource.colZoneFile(new File(path)))
  private var fullyPushed: Array[Filter] = Array.empty
  // (files the decisions covered, files EVERY fully-pushed filter
  // all-matches) — absolute paths, pinned at pushFilters time
  private var decidedState: Option[(Set[String], Set[String])] = None
  // does ANY filter remain for Spark to re-evaluate post-scan?
  private var anyResidual = false
  // pushed equality/IN on `_graft_file` → static file restriction
  private var staticFileRestriction: Option[Set[String]] = None
  private var countPushed = false
  private var limit: Option[Int] = None

  /** LIMIT n: each partition stops DECODING after n kept rows (Spark
    * still applies the global limit above). Partial pushdown — `false`
    * keeps the plan's limit node — and only when no RESIDUAL filter
    * remains: our ordinary filters are residual may-match, so a
    * decode-time row count could stop before n post-filter rows are
    * found. Zone-DECIDED (fully pushed) filters are fine: every decoded
    * row of a kept file matches, so kept-row counts are post-filter
    * counts.
    */
  override def pushLimit(n: Int): Boolean = {
    if (!anyResidual && !cdcFeed) limit = Some(n)
    false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (!countPushed) required = requiredSchema

  /** Decode-time skip filters (see [[AvroFilterEval]]). By default every
    * filter is returned residual — Spark re-evaluates the predicate
    * post-scan under codegen — so the pushed set is purely a row-skip
    * optimization and Spark keeps filter-referenced columns in the
    * required schema.
    *
    * EXCEPT zone/partition-DECIDED filters (tryFullPushdown): when the
    * column-zone manifest (or hive partition values) proves EVERY live
    * file either all-matches or none-matches a filter, that filter is
    * accepted as FULLY pushed — the scan serves exactly the all-match
    * files whole, Spark re-applies nothing, and (residual-free)
    * COUNT(*) over a filtered scan can answer from block headers alone.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (cdcFeed) {
      // the CDC row set is version deltas, not the live listing — file
      // pruning and decided pushdown would drop change rows; every
      // filter stays residual and Spark re-applies it post-scan
      anyResidual = filters.nonEmpty
      return filters
    }
    pushed = filters.filter(AvroFilterEval.accepts(full, _))
    // equality/IN on the `_graft_file` METADATA column (not in `full`,
    // so never in `pushed`): capture the file restriction for scan-time
    // file pruning — the value is each row's own file path, so a
    // non-listed file holds no matching row; the filter stays residual
    staticFileRestriction = {
      def conjuncts(f: Filter): Seq[Filter] = f match {
        case org.apache.spark.sql.sources.And(a, b) =>
          conjuncts(a) ++ conjuncts(b)
        case x => Seq(x)
      }
      val sets = filters.toSeq.flatMap(conjuncts).collect {
        case org.apache.spark.sql.sources.EqualTo(
            AvroFileSource.MetaFile, v) if v != null =>
          Set(String.valueOf(v))
        case org.apache.spark.sql.sources.In(AvroFileSource.MetaFile, vs) =>
          vs.toSeq.filter(_ != null).map(String.valueOf).toSet
      }
      sets.reduceOption(_ intersect _)
    }
    val (fp, st) = tryFullPushdown(filters)
    fullyPushed = fp
    decidedState = st
    val residual = filters.filterNot(f => fullyPushed.exists(_ eq f))
    anyResidual = residual.nonEmpty
    residual
  }

  /** Attempt per-file tri-state decisions for each filter over the live
    * listing. A filter is fully pushable iff EVERY live file decides
    * (all-match or none-match); the keep-set is the files where every
    * such filter all-matches. Soundness gates:
    *  - current-state reads only (manifests describe the live set);
    *  - no column renames (zone entries live under historical names);
    *  - zone bounds answer only for TOP-LEVEL, NON-NULLABLE, non-float
    *    columns (bounds cover non-null values; a null row matches no
    *    compare — non-nullability makes "all rows" = "all values";
    *    float/double excluded for NaN exactness, matching the
    *    metadata-aggregate rule);
    *  - partition-path values answer for any column regardless of
    *    nullability (the value is materialized into every row of the
    *    file, a constant non-null point by construction);
    *  - absence of a bound, an unparseable value, or an undecidable
    *    compare means "undecided" and the filter stays residual.
    * Equality/positional delete sidecars DON'T stand this down: deletes
    * remove rows, and a subset of an all-match file still all-matches
    * (COUNT pushdown has its own delete guards).
    */
  private def tryFullPushdown(filters: Array[Filter])
      : (Array[Filter], Option[(Set[String], Set[String])]) = {
    val stand = (Array.empty[Filter], None)
    if (filters.isEmpty) return stand
    if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty)
      return stand
    val bounds = AvroFileSource.decisionBounds(new File(path), full, colZones)
      .getOrElse(return stand)
    val decisions: Array[Option[IndexedSeq[Boolean]]] = filters.map { flt =>
      val perFile = bounds.toIndexedSeq.map { case (_, boundsOf, nullsOf) =>
        AvroFilterEval.zoneDecides(boundsOf, flt, nullsOf)
      }
      if (perFile.forall(_.isDefined)) Some(perFile.map(_.get)) else None
    }
    val fullIdx = decisions.zipWithIndex.collect { case (Some(_), i) => i }
    if (fullIdx.isEmpty) return stand
    val keep = bounds.zipWithIndex.collect { case ((f, _, _), j)
        if fullIdx.forall(i => decisions(i).get(j)) => f.getAbsolutePath }
    (fullIdx.map(filters), Some(
      (bounds.map(_._1.getAbsolutePath).toSet, keep.toSet)))
  }

  override def pushedFilters(): Array[Filter] = pushed

  // COUNT(*) GROUP BY these partition-path segments (empty = ungrouped)
  private var groupCountCols: Seq[String] = Nil
  // the subset of groupCountCols that are HIDDEN day-transform segments:
  // their raw value is an epoch-day long, translated to an ISO date at
  // planning so the reader's DateType cast serves the group key
  private var groupCountEpochSegs: Set[String] = Set.empty

  /** Zero-decode `COUNT(*) GROUP BY <partition-path columns>`: every
    * row of a file carries its directory's partition values, so the
    * file's whole block-header count belongs to ONE group — each file
    * emits (partition values, partial count) and Spark's final
    * aggregate sums per key. Zero rows decoded, like the ungrouped
    * path; composes with zone-decided filters (partitions follow
    * prunedFiles) and positional deletes (per-file subtraction).
    * Sound only when EVERY live file carries a parseable value of a
    * supported exact type for EVERY grouped column — partition
    * evolution (a file missing a segment) stands the whole thing down.
    *
    * Hidden DAY-transform segments serve grouped counts too (r18): a
    * `GROUP BY to_date(ts)` / `CAST(ts AS DATE)` arrives as a V2 Cast
    * group expression, and on a `transformBy=ts:day` table every row of
    * a `ts_day=N` segment has exactly that cast value (UTC epoch day N —
    * the transform IS the cast), so the segment answers the group key:
    * emitted as the ISO date of epoch day N, `__null__` as a genuine
    * null key. Soundness guards: the column's declared transform must be
    * `day`, its type TIMESTAMP (session timezone UTC only — the cast is
    * timezone-local while the transform is the UTC instant) or
    * TIMESTAMP_NTZ (timezone-free), and every live file must carry a
    * parseable day segment (pre-transform files stand it down).
    */
  private def pushGroupedCount(agg: Aggregation): Boolean = {
    import org.apache.spark.sql.types._
    if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty ||
        cdcFeed)
      return false
    if (AvroFileSource.deleteFile(new File(path)).isFile) return false
    if (AvroFileSource.colmapFile(new File(path)).isFile) return false
    val exprs = agg.aggregateExpressions
    lazy val dayXformCols = AvroTransforms.read(new File(path))
      .filter(_.kind == "day").map(_.col).toSet
    def utcSession: Boolean = try {
      java.time.ZoneId.of(org.apache.spark.sql.internal.SQLConf.get
        .sessionLocalTimeZone).normalized() == java.time.ZoneOffset.UTC
    } catch { case scala.util.control.NonFatal(_) => false }
    // each group key: (pv lookup segment, output field, epoch-day raw?)
    val keys: Seq[Option[(String, StructField, Boolean)]] =
      agg.groupByExpressions.toSeq.map {
        case r: NamedReference if r.fieldNames().length == 1 =>
          val n = r.fieldNames()(0)
          full.fields.find(_.name == n).filter(_.dataType match {
            case StringType | IntegerType | LongType | ShortType |
                 ByteType | BooleanType | DateType => true
            // float/double string keying is unsound; others inexact
            case _ => false
          }).map(f => (n, f, false))
        case c: org.apache.spark.sql.connector.expressions.Cast
            if c.dataType == DateType =>
          (c.expression match {
            case r: NamedReference if r.fieldNames().length == 1 =>
              Some(r.fieldNames()(0))
            case _ => None
          }).filter(dayXformCols.contains)
            .filter { n =>
              full.fields.find(_.name == n).map(_.dataType).exists {
                case TimestampType => utcSession
                case TimestampNTZType => true
                case _ => false
              }
            }
            .map(n => (s"${n}_day",
              StructField(s"${n}_day", DateType, nullable = true), true))
        case _ => None
      }
    if (keys.isEmpty || keys.exists(_.isEmpty)) return false
    val ks = keys.flatten
    val covered = AvroFileSource.listLive(new File(path)).forall {
      case (_, pv) => ks.forall { case (seg, f, epoch) =>
        // Some(null) (a __null__ segment) is a genuine null group key
        pv.get(seg).exists { raw =>
          if (raw == "__null__") true
          // epoch-day range representable as a 4-digit-year ISO date
          // (the planning-time translation the reader re-parses)
          else if (epoch) raw.toLongOption.exists(d =>
            d >= -719162L && d <= 2932896L)
          else AvroFileSource.castPartitionValue(raw, f.dataType).isDefined
        }
      }
    }
    if (!covered) return false
    if (exprs.length == 1 && exprs.head.isInstanceOf[CountStar]) {
      groupCountCols = ks.map(_._1)
      groupCountEpochSegs = ks.collect { case (s, _, true) => s }.toSet
      countPushed = true
      required = StructType(ks.map(_._2).toArray :+
        org.apache.spark.sql.types.StructField(
          "count(*)", LongType, nullable = false))
      true
    } else if (ks.exists(_._3)) false // stats fold is identity-keys only
    else pushGroupedStats(ks.map(_._1), ks.map(_._2), exprs)
  }

  // grouped metadata stats: per output expr ("count","") | ("min"|"max",
  // col); per live file (abs path) the pre-resolved cells — ("count",""),
  // ("val", rawManifestBound) or ("null","")
  private var groupAggSpecs: Seq[(String, String)] = Nil
  private var groupAggCells: Map[String, Seq[(String, String)]] = Map.empty
  // grouped hybrid under posdel: abs paths of dirty files (re-scanned as
  // per-file partial rows), the decode struct of the MIN/MAX columns,
  // and per output spec ("count", -1) | (kind, struct ordinal)
  private var groupHybridPaths: Set[String] = Set.empty
  private var groupHybridStruct: StructType = new StructType()
  private var groupHybridSpecs: Seq[(String, Int)] = Nil

  /** Grouped metadata MIN/MAX (+COUNT) by partition-path columns:
    * `SELECT p, min(c), max(c), count(*) … GROUP BY p` served with zero
    * rows decoded — each file contributes one row of (partition values,
    * its col-zone bounds per MIN/MAX column, its block-header count) and
    * Spark's final aggregate folds per key: min-of-mins, max-of-maxes,
    * sum-of-counts. The per-partition Iceberg-manifest stats query as a
    * plain GROUP BY. Soundness mirrors the ungrouped generalized path:
    * FULL col-zone coverage of every live file for every probed column
    * (explicit `__null__` markers make all-null files checkable — those
    * contribute SQL-ignored nulls), recorded type tag must equal the
    * read type, float/double never served (NaN), bounds at the string
    * truncation cap are maybe-truncated ⇒ inexact ⇒ stand down, and
    * positional deletes go HYBRID (dirty files re-scan as per-file
    * partial rows — see the inline comment). Composes with zone-DECIDED
    * filters: every kept file all-matches, so its full-file bounds ARE
    * its matching-rows bounds (partitions follow prunedFiles).
    */
  private def pushGroupedStats(cols: Seq[String],
      gFields: Seq[org.apache.spark.sql.types.StructField],
      exprs: Array[org.apache.spark.sql.connector.expressions.aggregate
        .AggregateFunc]): Boolean = {
    import org.apache.spark.sql.types._
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val specs: Seq[Option[(String, String)]] = exprs.toSeq.map {
      case _: CountStar => Some(("count", ""))
      case m: Min => colOf(m.column).map(c => ("min", c))
      case m: Max => colOf(m.column).map(c => ("max", c))
      case s: Sum if !s.isDistinct => colOf(s.column).map(c => ("sum", c))
      case c: Count if !c.isDistinct => colOf(c.column).map(c2 => ("cnt", c2))
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    val sp = specs.flatten
    val dirF = new File(path)
    val mmCols = sp.collect { case (k, c) if k == "min" || k == "max" => c }
      .distinct
    val sumCols = sp.collect { case (k, c) if k == "sum" || k == "cnt" => c }
      .distinct
    // HYBRID under positional deletes (r19, the ungrouped-path shape):
    // a dirty file's cells are untrustworthy (a dead row may hold the
    // extreme / still counts in block headers), but its GROUP is exact —
    // partition values are constant per file — so dirty files re-scan
    // as real per-file partial rows (keys + in-file fold under the
    // posdel overlay) while clean files keep the zero-decode cells.
    // r20: SUM/COUNT(col) ride the same re-scan — the dirty fold
    // accumulates (addExact sum over surviving non-nulls, non-null
    // count) per column, exactly the partials Spark's final aggregate
    // expects; clean files keep their `sum:`/`cnt:` cells.
    val posdelDirty: Set[String] =
      if (!AvroFileSource.posdelFile(dirF).isFile) Set.empty
      else AvroFileSource.readPosdel(dirF).keySet
    val liveAll = AvroFileSource.listLive(dirF)
    val baseP = dirF.getAbsoluteFile.toPath
    def relOfF(f: File): String =
      baseP.relativize(f.getAbsoluteFile.toPath).toString
    val dirtyLive = liveAll.map(_._1).filter(f => posdelDirty(relOfF(f)))
    val scanCols = (mmCols ++ sumCols).distinct
    if (dirtyLive.nonEmpty) {
      // the dirty re-scan decodes top-level columns only, and a
      // count-only mix would decode a zero-column projection — keep the
      // hybrid to mixes that name at least one aggregated column
      if (scanCols.isEmpty || !scanCols.forall(full.fieldNames.contains))
        return false
    }
    val dirtyPaths = dirtyLive.map(_.getAbsolutePath).toSet
    val types: Map[String, DataType] = {
      val resolved = mmCols.map { c =>
        AvroFilterEval.leafType(full, c)
          .filter(d => d != DoubleType && d != FloatType)
          .map(c -> _)
      }
      if (resolved.exists(_.isEmpty)) return false
      resolved.flatten.toMap
    }
    // SUM cells come from the manifest's `sum:` entries — integral leaf
    // types only (exactness). COUNT(col) resolves for ANY recorded leaf
    // type via the `cnt:` cells (r19), falling back to the integral
    // `sum:` cell's count slot on pre-cnt manifests.
    val sumTypes: Map[String, DataType] = {
      val resolved = sp.collect { case ("sum", c) => c }.distinct.map { c =>
        AvroFilterEval.leafType(full, c)
          .filter {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }
          .map(c -> _)
      }
      if (resolved.exists(_.isEmpty)) return false
      resolved.flatten.toMap
    }
    val cntTypes: Map[String, DataType] = {
      val resolved = sp.collect { case ("cnt", c) => c }.distinct.map { c =>
        AvroFilterEval.leafType(full, c).map(c -> _)
      }
      if (resolved.exists(_.isEmpty)) return false
      resolved.flatten.toMap
    }
    val cleanLive = liveAll.filterNot(f => dirtyPaths(f._1.getAbsolutePath))
    val cells: Map[String, Seq[(String, String)]] =
      if (mmCols.isEmpty && sumCols.isEmpty) {
        cleanLive
          .map(f => f._1.getAbsolutePath -> sp.map(_ => ("count", "")))
          .toMap
      } else {
      val zfc = AvroFileSource.colZoneFile(dirF)
      // coverage is required of CLEAN files only (dirty files re-scan);
      // an all-dirty table needs no manifest at all
      if (cleanLive.nonEmpty && !zfc.isFile) return false
      val raw = colZonesRaw
      val base = dirF.getAbsoluteFile.toPath
      val perFile = cleanLive.map { case (f, _) =>
        val rel = base.relativize(f.getAbsoluteFile.toPath).toString
        val resolved: Seq[Option[(String, String)]] = sp.map {
          case ("count", _) => Some(("count", ""))
          case ("cnt", c) =>
            val d = cntTypes(c)
            val enc = java.net.URLEncoder.encode(c, "UTF-8")
            raw.getOrElse(rel, Nil).collectFirst {
              case (`enc`, tag, nn, _)
                  if AvroFileSource.cellTypeApplies(tag, d, "cnt:") => nn
            }.filter(_.toLongOption.exists(_ >= 0))
              .map(nn => ("cntv", nn))
              .orElse { // pre-cnt manifests: the sum cell's count slot
                raw.getOrElse(rel, Nil).collectFirst {
                  case (`enc`, tag, _, n)
                      if AvroFileSource.cellTypeApplies(tag, d, "sum:") => n
                }.filter(_.toLongOption.exists(_ >= 0))
                  .map(n => ("cntv", n))
              }
          case ("sum", c) =>
            val d = sumTypes(c)
            val enc = java.net.URLEncoder.encode(c, "UTF-8")
            raw.getOrElse(rel, Nil).collectFirst {
              case (`enc`, tag, s, n)
                  if AvroFileSource.cellTypeApplies(tag, d, "sum:") => (s, n)
            }.flatMap { case (s, n) =>
              (s.toLongOption, n.toLongOption) match {
                case (Some(_), Some(nv)) if nv >= 0 =>
                  // an all-null file's SUM partial must be NULL, not 0
                  if (nv == 0L) Some(("null", ""))
                  else Some(("sumv", s))
                case _ => None
              }
            }
          case (kind, c) =>
            val d = types(c)
            val enc = java.net.URLEncoder.encode(c, "UTF-8")
            raw.getOrElse(rel, Nil).collectFirst {
              case (`enc`, dtN, mn, mx)
                  if AvroFileSource.cellTypeApplies(dtN, d) => (mn, mx)
            }.flatMap { case (mn, mx) =>
              if (mn == "__null__") Some(("null", ""))
              else {
                val bound = if (kind == "min") mn else mx
                AvroFileSource.castPartitionValue(bound, d)
                  .filter(_ != null)
                  .filter {
                    // a bound AT the cap is maybe-truncated ⇒ inexact
                    case s: String =>
                      s.length < AvroFileSource.StringBoundMax
                    case _ => true
                  }
                  .map(_ => ("val", bound))
              }
            }
        }
        if (resolved.exists(_.isEmpty)) None // uncovered/unparseable file
        else Some(f.getAbsolutePath -> resolved.flatten)
      }
      if (perFile.exists(_.isEmpty)) return false
      perFile.flatten.toMap
    }
    groupCountCols = cols
    groupAggSpecs = sp
    groupAggCells = cells
    if (dirtyLive.nonEmpty) {
      groupHybridPaths = dirtyPaths
      groupHybridStruct =
        StructType(scanCols.map(c => full(full.fieldIndex(c))).toArray)
      groupHybridSpecs = sp.map {
        case ("count", _) => ("count", -1)
        case (k, c) => (k, scanCols.indexOf(c))
      }
    }
    required = StructType(gFields ++ sp.map {
      case ("count", _) =>
        org.apache.spark.sql.types.StructField(
          "count(*)", LongType, nullable = false)
      case ("sum", c) =>
        org.apache.spark.sql.types.StructField(s"sum($c)", LongType)
      case ("cnt", c) =>
        org.apache.spark.sql.types.StructField(
          s"count($c)", LongType, nullable = false)
      case (kind, c) =>
        org.apache.spark.sql.types.StructField(s"$kind($c)", types(c))
    })
    true
  }

  /** Zero-decode `COUNT(*)`: Avro container blocks carry their record
    * count in the block header, so an unfiltered global count is the sum
    * of block counts — no record is ever deserialized. Partial pushdown
    * only (one partial count row per file; Spark sums them), and only for
    * a bare global COUNT(*): any residual filter, grouping, or other
    * aggregate needs real rows. (Spark offers aggregate pushdown only
    * when no post-scan filter remains, so `pushed.isEmpty` is belt and
    * braces with our always-residual filter contract.)
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    // Residual-free filters only: either none, or every one is
    // zone/partition-DECIDED (fully pushed) — the kept files then
    // answer COUNT(*) from block headers alone. Any residual filter
    // needs real rows (Spark would not offer pushdown then anyway).
    if (anyResidual) return false
    if (agg.groupByExpressions.nonEmpty) return pushGroupedCount(agg)
    // Time travel / incremental: every metadata-served aggregate reads
    // CURRENT-state manifests (block counts, zone bounds), which need
    // not describe the requested snapshot or changeset. Historical
    // reads answer from real rows only.
    if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty) return false
    // CDC feeds serve version deltas — no metadata aggregate describes
    // that row set
    if (cdcFeed) return false
    // Equality deletes invalidate every metadata-served aggregate: a
    // deleted row still counts in block headers and may carry a zone
    // extreme. Merge-on-read tables answer aggregates from real
    // (delete-filtered) rows only.
    if (AvroFileSource.deleteFile(new File(path)).isFile) return false
    // Column renames invalidate metadata-served MIN/MAX the same way:
    // old files' zone entries live under historical names, and a
    // RE-ADDED old name would satisfy "full coverage" with the renamed
    // column's stale bounds (whose rows now read as null). Renamed
    // tables answer aggregates from real rows.
    if (AvroFileSource.colmapFile(new File(path)).isFile) return false
    val exprs = agg.aggregateExpressions
    if (exprs.length == 1 && exprs.head.isInstanceOf[CountStar]) {
      // COUNT(*) survives positional deletes: block-header totals minus
      // the (validated, distinct) deleted positions — the adjustment
      // partition is planned in planInputPartitions
      countPushed = true
      required = new StructType().add("count(*)", LongType, nullable = false)
      return true
    }
    // Filters and the manifest folds below: a RESIDUAL filter already
    // returned above (rows must be decoded). When EVERY filter is
    // zone-DECIDED, each kept file all-matches, so its full-file stats
    // ARE its matching-row stats — the generalized fold restricts to
    // the keep-set pinned at pushFilters.
    val keptRels: Option[Seq[String]] =
      if (fullyPushed.isEmpty) None
      else decidedState match {
        case Some((_, keep)) =>
          val base = new File(path).getAbsoluteFile.toPath
          Some(keep.toSeq.map(p => base.relativize(
            new File(p).getAbsoluteFile.toPath).toString).sorted)
        case None => return false
      }
    // positional deletes: dead rows may hold a zone extreme, so the
    // cells of posdel-BEARING files are untrustworthy. A pure MIN/MAX
    // aggregation goes HYBRID instead of standing down (the verdict's
    // mostly-clean-table case): manifest cells fold over the clean
    // files and ONLY the dirty files re-scan as real partial
    // aggregates (their rows decode under the posdel overlay — see the
    // okAny fold + AvroHybridAggReaderFactory). SUM/COUNT mixes can't
    // reconstruct a dirty file's contribution from cells and still
    // stand down.
    val posdelDirty: Set[String] =
      if (!AvroFileSource.posdelFile(new File(path)).isFile) Set.empty
      else AvroFileSource.readPosdel(new File(path)).keySet
    if (posdelDirty.nonEmpty && !exprs.toSeq.forall {
      case _: Min | _: Max => true
      case _ => false
    }) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference => Some(r.fieldNames.mkString("."))
      case _ => None
    }
    // MIN/MAX/SUM/COUNT over ANY mix of columns (the sort column included)
    // served from the all-column manifest — the Iceberg-manifest shape. Sound
    // only under FULL coverage: every alive data file must carry an entry for
    // every wanted column (all-null files carry an explicit `__null__` marker
    // — and a (0,0) sum cell — precisely so coverage is checkable; absence
    // means a pre-manifest, non-finite-tainted, or sum-overflowed file whose
    // true stats are unknown). Exactness guards: float/double columns are
    // never served (NaN-dead files simply break coverage, but belt and
    // braces), string bounds at the truncation cap are maybe-truncated, hence
    // inexact, hence rejected, and the driver-side sum fold uses addExact
    // (overflow stands down to a real scan). SUM/COUNT(col) serve integral
    // columns only; COUNT(*) folds the row-count manifest. AVG needs no
    // special case: Spark's partial-pushdown rewrite splits it into SUM +
    // COUNT before offering the push. The fold happens HERE, driver-side — the
    // scan emits one tiny row.
    val specsAny: Seq[Option[(String, String)]] = exprs.toSeq.map {
      case m: Min => colOf(m.column).map(("min", _))
      case m: Max => colOf(m.column).map(("max", _))
      case s: Sum if !s.isDistinct => colOf(s.column).map(("sum", _))
      case c: Count if !c.isDistinct => colOf(c.column).map(("cnt", _))
      case _: CountStar => Some(("cnt*", ""))
      case _ => None
    }
    val okAny = specsAny.nonEmpty && specsAny.forall(_.isDefined) && {
      val dirF = new File(path)
      val zfc = AvroFileSource.colZoneFile(dirF)
      val sp = specsAny.flatten
      val mmCols = sp.collect { case ("min" | "max", c) => c }.distinct
      val sumCols = sp.collect { case ("sum" | "cnt", c) => c }.distinct
      val needZones = mmCols.nonEmpty || sumCols.nonEmpty
      (!needZones || zfc.isFile) && {
        val base = dirF.getAbsoluteFile.toPath
        val raw =
          if (needZones) colZonesRaw
          else Map.empty[String, Seq[(String, String, String, String)]]
        // under fully-decided filters the fold covers the KEEP-set only:
        // every kept file all-matches, so full-file stats are exact
        val alive = keptRels.getOrElse(
          AvroFileSource.listAvro(dirF)
            .map(f => base.relativize(f.getAbsoluteFile.toPath).toString))
        // HYBRID under positional deletes (pure MIN/MAX only — guarded
        // above): cells fold over the CLEAN files; dirty files re-scan
        // as real partial aggregates, so they need no coverage — but
        // the re-scan decodes top-level columns only
        val dirtyAlive = alive.filter(posdelDirty.contains)
        val clean = alive.filterNot(posdelDirty.contains)
        val hybridOk = dirtyAlive.isEmpty ||
          mmCols.forall(full.fieldNames.contains)
        val cols = mmCols
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        val perCol: Option[Map[String, (org.apache.spark.sql.types.DataType,
            Option[(Any, Any)])]] = {
          val resolved = cols.map { c =>
            AvroFilterEval.leafType(full, c)
              .filter(d => d != DoubleType && d != FloatType)
              .flatMap { d =>
                val enc = java.net.URLEncoder.encode(c, "UTF-8")
                val perFile = clean.map { rel =>
                  raw.getOrElse(rel, Nil).collectFirst {
                    case (`enc`, dtN, mn, mx)
                        if AvroFileSource.cellTypeApplies(dtN, d) => (mn, mx)
                  }
                }
                if (perFile.exists(_.isEmpty)) None // uncovered file
                else {
                  val valued = perFile.flatten.filter(_._1 != "__null__")
                  val parsed = valued.map { case (mn, mx) =>
                    for {
                      lo <- AvroFileSource.castPartitionValue(mn, d)
                        if lo != null
                      hi <- AvroFileSource.castPartitionValue(mx, d)
                        if hi != null
                      // a bound AT the cap is maybe-truncated ⇒ inexact
                      if !Seq(lo, hi).exists {
                        case s: String =>
                          s.length >= AvroFileSource.StringBoundMax
                        case _ => false
                      }
                    } yield (lo, hi)
                  }
                  if (parsed.exists(_.isEmpty)) None
                  else {
                    val vs = parsed.flatten
                    if (vs.isEmpty) Some(c -> (d, None)) // all-null column
                    else {
                      val lo = vs.map(_._1).reduceLeft((a, b) =>
                        if (AvroFilterEval.cmp(a, b).exists(_ <= 0)) a else b)
                      val hi = vs.map(_._2).reduceLeft((a, b) =>
                        if (AvroFilterEval.cmp(a, b).exists(_ >= 0)) a else b)
                      // undecidable compares must not silently pick one
                      val sound = vs.forall { case (a, b) =>
                        AvroFilterEval.cmp(a, lo).isDefined &&
                          AvroFilterEval.cmp(b, hi).isDefined
                      }
                      if (sound) Some(c -> (d, Some((lo, hi)))) else None
                    }
                  }
                }
              }
          }
          if (resolved.exists(_.isEmpty)) None
          else Some(resolved.flatten.toMap)
        }
        // exact per-column (sum, non-null count) folded over every live
        // file's sum cells; integral leaf types only, full coverage
        // required, addExact throughout (an overflowing FOLD also
        // stands down — per-file sums were exact but the total wraps)
        val perSum: Option[Map[String, (Long, Long)]] = {
          import org.apache.spark.sql.types._
          val resolved = sp.collect { case ("sum", c) => c }.distinct.map { c =>
            AvroFilterEval.leafType(full, c)
              .filter {
                case ByteType | ShortType | IntegerType | LongType => true
                case _ => false
              }
              .flatMap { d =>
                val enc = java.net.URLEncoder.encode(c, "UTF-8")
                val perFile = alive.map { rel =>
                  raw.getOrElse(rel, Nil).collectFirst {
                    case (`enc`, tag, s, n)
                        if AvroFileSource.cellTypeApplies(tag, d, "sum:") =>
                      for {
                        sv <- s.toLongOption
                        nv <- n.toLongOption if nv >= 0
                      } yield (sv, nv)
                  }.flatten
                }
                if (perFile.exists(_.isEmpty)) None // uncovered file
                else try {
                  val total = perFile.flatten.foldLeft((0L, 0L)) {
                    case ((s, n), (fs, fn)) =>
                      (Math.addExact(s, fs), Math.addExact(n, fn))
                  }
                  Some(c -> total)
                } catch { case _: ArithmeticException => None }
              }
          }
          if (resolved.exists(_.isEmpty)) None
          else Some(resolved.flatten.toMap)
        }
        // COUNT(col) for ANY recorded leaf type via the `cnt:` cells
        // (non-null count in the min slot), falling back to the
        // integral sum cell's count slot on pre-cnt manifests
        val perCnt: Option[Map[String, Long]] = {
          val resolved = sp.collect { case ("cnt", c) => c }.distinct.map { c =>
            AvroFilterEval.leafType(full, c).flatMap { d =>
              val enc = java.net.URLEncoder.encode(c, "UTF-8")
              val perFile = alive.map { rel =>
                raw.getOrElse(rel, Nil).collectFirst {
                  case (`enc`, tag, nn, _)
                      if AvroFileSource.cellTypeApplies(tag, d, "cnt:") =>
                    nn.toLongOption
                }.flatten.filter(_ >= 0).orElse {
                  raw.getOrElse(rel, Nil).collectFirst {
                    case (`enc`, tag, _, n)
                        if AvroFileSource.cellTypeApplies(tag, d, "sum:") =>
                      n.toLongOption
                  }.flatten.filter(_ >= 0)
                }
              }
              if (perFile.exists(_.isEmpty)) None // uncovered file
              else try Some(c -> perFile.flatten
                .foldLeft(0L)(Math.addExact))
              catch { case _: ArithmeticException => None }
            }
          }
          if (resolved.exists(_.isEmpty)) None
          else Some(resolved.flatten.toMap)
        }
        // COUNT(*) folds the row-count manifest under full coverage
        // (posdel already stood the whole aggregate path down above)
        val totalRows: Option[Long] =
          if (!sp.exists(_._1 == "cnt*")) Some(0L)
          else {
            val rf = AvroFileSource.rowsFile(dirF)
            if (!rf.isFile) None
            else {
              val rows = AvroFileSource.readRowsRaw(rf)
              if (alive.forall(rows.contains)) Some(alive.map(rows).sum)
              else None
            }
          }
        (perCol, perSum, perCnt, totalRows) match {
          case (Some(m), Some(sm), Some(cn), Some(rows)) if hybridOk =>
            if (dirtyAlive.nonEmpty) {
              minMaxDirtyRels = dirtyAlive
              minMaxHybridStruct =
                StructType(mmCols.map(c => full(full.fieldIndex(c))))
              minMaxHybridSpecs = sp.map { case (kind, c) =>
                (kind == "min", mmCols.indexOf(c))
              }
            }
            minMaxAny = sp.map {
              case (kind @ ("min" | "max"), c) =>
                val (d, bounds) = m(c)
                (s"$kind($c)", d,
                  bounds.map(b => if (kind == "min") b._1 else b._2))
              case ("sum", c) =>
                // SQL SUM over zero non-null values is NULL, and a
                // 0-sum partial would masquerade as a real 0 upstream
                val (s, n) = sm(c)
                (s"sum($c)", LongType: org.apache.spark.sql.types.DataType,
                  if (n == 0L) None else Some(s))
              case ("cnt", c) =>
                (s"count($c)", LongType: org.apache.spark.sql.types.DataType,
                  Some(cn(c)))
              case _ =>
                ("count(*)", LongType: org.apache.spark.sql.types.DataType,
                  Some(rows))
            }
            true
          case _ => false
        }
      }
    }
    if (okAny) {
      required = StructType(minMaxAny.map { case (name, d, _) =>
        org.apache.spark.sql.types.StructField(name, d,
          nullable = !name.startsWith("count"))
      })
    }
    okAny
  }

  // hybrid MIN/MAX under posdel: rels whose cells are untrustworthy
  // (re-scanned as partial aggregates), the decode struct of the
  // aggregated columns, and per output column (isMin, struct ordinal)
  private var minMaxDirtyRels: Seq[String] = Nil
  private var minMaxHybridStruct: StructType = new StructType()
  private var minMaxHybridSpecs: Seq[(Boolean, Int)] = Nil
  // generalized manifest-served aggregate: (output name, type, final
  // external value — None for an all-null/empty column)
  private var minMaxAny
    : Seq[(String, org.apache.spark.sql.types.DataType, Option[Any])] = Nil

  override def build(): Scan = {
    val filters = pushed
    val staticFiles = staticFileRestriction
    val decided = decidedState
    val counting = countPushed
    val groupCols = groupCountCols
    val groupEpochSegs = groupCountEpochSegs
    val groupSpecs = groupAggSpecs
    val groupCells = groupAggCells
    val groupHybridP = groupHybridPaths
    val groupHybridS = groupHybridStruct
    val groupHybridSp = groupHybridSpecs
    val aggAny = minMaxAny
    val aggDirtyRels = minMaxDirtyRels
    val aggHybridStruct = minMaxHybridStruct
    val aggHybridSpecs = minMaxHybridSpecs
    new Scan with Batch with SupportsReportStatistics
      with SupportsRuntimeV2Filtering with SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsReportOrdering {
      override def readSchema(): StructType = required

      /** Report the verified sorted layout (see `sortedBy` write
        * option): every scan partition is a single file or a
        * sync-aligned range of one — both inherit the file's order — so
        * downstream per-partition sorts on the marker column are
        * eliminated. Withheld under `preservePartitioning` (SPJ may
        * chain several files into one task, which breaks the order).
        */
      override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
        if (preserveGrouping) return Array.empty
        // the sort marker claims the CURRENT directory contents; a
        // snapshot's archived files were never verified under it
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty) return Array.empty
        // a lexicographic claim holds for every PREFIX of its columns,
        // so report the longest prefix this scan still projects (a
        // projected-out head column invalidates the tail's order)
        AvroFileSource.sortedColumnsOf(new File(path))
          .takeWhile(required.fieldNames.contains)
          .map(c => Expressions.sort(Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          .toArray
      }

      // ---- runtime partition pruning (Spark's DPP analogue for DSv2):
      // declare the directory-layout columns as filterable; at execution
      // Spark hands the build side of a broadcast join as IN predicates,
      // which prune whole partition directories before any file opens.
      // UNION over all files' `k=v` segments, not the first file's:
      // under PARTITION EVOLUTION (appends written with a different
      // partitionBy) the directory carries several specs at once, and
      // every spec's columns must stay filterable — each file is pruned
      // against the values ITS OWN path carries (partitionMayMatch /
      // runtimeMayMatch treat a missing segment as "keep", so old-spec
      // filters never wrongly prune new-spec files and vice versa).
      // Per-file insertion order (outer dir first) is preserved;
      // `distinct` keeps the first occurrence so uniform layouts report
      // the same column order as before.
      private lazy val partitionCols: Seq[String] =
        listed.flatMap(_._2.keys.toSeq).distinct
          .filter(full.fieldNames.contains)

      @volatile private var runtimeIn: Map[String, Set[String]] = Map.empty
      // runtime IN-sets against column zones: EXTERNAL values per column
      @volatile private var runtimeZoneVals: Map[String, Set[Any]] = Map.empty
      // runtime IN-sets resolved to TARGET BUCKET segments per column
      @volatile private var runtimeBucket: Map[String, Set[String]] = Map.empty

      /** The table's hash-bucket spec in force for THIS read. Live
        * reads take the sidecar as-is. Time-travel / incremental reads
        * resolve through the entry STAMPS: a live entry established at
        * `since <= v` (resp. the range's lower base) is exactly the
        * spec the snapshot's segment-bearing files were routed under —
        * any re-bucketing truncate in between would have replaced it
        * with a younger stamp. Unstamped (legacy) or younger entries
        * stand down for that read (files merely kept — sound). Branch
        * reads stay unpruned (overlay files carry no birth on main's
        * journal). Incremental ranges are additive-only by contract, so
        * an entry in force at the range BASE (or established inside the
        * range — earlier files then simply lack its segment) resolves
        * every served file.
        */
      private lazy val bucketSpec: Seq[(String, Int)] =
        if (branch.nonEmpty) Nil
        else (travelVersion, incRange) match {
          case (Some(v), _) =>
            AvroFileSource.readBucketSpecStamped(new File(path)).collect {
              case (c, n, since) if since >= 1L && since <= v => (c, n)
            }
          case (None, Some((_, t))) =>
            AvroFileSource.readBucketSpecStamped(new File(path)).collect {
              case (c, n, since) if since >= 1L && since <= t => (c, n)
            }
          case _ => AvroFileSource.readBucketSpec(new File(path))
        }
      private lazy val bucketByCol: Map[String, Int] = bucketSpec.toMap

      /** Canonical bucket-key string of a pushed-filter EXTERNAL value;
        * None = representation not canonical-stable → that conjunct
        * cannot prune (sound).
        */
      private def bucketKeyOf(v: Any): Option[String] = v match {
        case null => None
        case s: String => Some(s)
        case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
             _: java.lang.Byte | _: java.lang.Boolean =>
          Some(String.valueOf(v))
        case d: java.sql.Date => Some(d.toLocalDate.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case _: java.math.BigDecimal | _: scala.math.BigDecimal |
             _: org.apache.spark.sql.types.Decimal =>
          Some(AvroFileSource.canonicalValue(v))
        case _: java.sql.Timestamp | _: java.time.Instant |
             _: java.time.LocalDateTime =>
          Some(AvroFileSource.canonicalValue(v))
        case _ => None
      }

      /** Per bucketed column: the set of directory segment values an
        * equality/IN conjunct allows. Several conjuncts on one column
        * intersect. `__null__` segments never appear in a target set —
        * an all-null-key file can't satisfy an equality, so it prunes.
        */
      private lazy val bucketTargets: Map[String, Set[String]] = {
        if (bucketByCol.isEmpty) Map.empty
        else {
          import org.apache.spark.sql.sources.{And => FAnd, EqualNullSafe,
            EqualTo, In}
          def conjuncts(f: Filter): Seq[Filter] = f match {
            case FAnd(a, b) => conjuncts(a) ++ conjuncts(b)
            case x => Seq(x)
          }
          def target(c: String, k: String): String =
            AvroFileSource.bucketOf(k, bucketByCol(c)).toString
          filters.toSeq.flatMap(conjuncts).flatMap {
            case EqualTo(c, v) if bucketByCol.contains(c) =>
              bucketKeyOf(v).map(k => c -> Set(target(c, k)))
            case EqualNullSafe(c, v) if v != null && bucketByCol.contains(c) =>
              bucketKeyOf(v).map(k => c -> Set(target(c, k)))
            case In(c, vs) if bucketByCol.contains(c) =>
              // null elements never match; a non-canonical element
              // disables the conjunct (sound); an all-null/empty IN
              // matches nothing — the empty target set prunes all
              val ks = vs.toSeq.filter(_ != null).map(bucketKeyOf)
              if (ks.forall(_.isDefined))
                Some(c -> ks.flatten.map(target(c, _)).toSet)
              else None
            case _ => None
          }.groupMapReduce(_._1)(_._2)(_ intersect _)
        }
      }

      /** Do the bucket targets (pushed + runtime) allow this file's
        * segment assignment? Missing segment = keep (pre-bucket /
        * evolved files).
        */
      private def bucketMayKeep(vals: Map[String, String]): Boolean = {
        def ok(targets: Map[String, Set[String]]): Boolean =
          targets.forall { case (c, allowed) =>
            vals.get(AvroFileSource.bucketSegName(c)) match {
              case None => true
              case Some(raw) => allowed.contains(raw)
            }
          }
        ok(bucketTargets) && ok(runtimeBucket)
      }

      /** The table's temporal/truncate transform spec in force for THIS
        * read — the same stamped resolution as [[bucketSpec]]: travel
        * and incremental reads honor only entries established at or
        * before their upper bound; branch reads stand down.
        */
      private lazy val xformSpec: Seq[Xform] =
        if (branch.nonEmpty) Nil
        else (travelVersion, incRange) match {
          case (Some(v), _) =>
            AvroTransforms.readStamped(new File(path)).collect {
              case (x, since) if since >= 1L && since <= v => x
            }
          case (None, Some((_, t))) =>
            AvroTransforms.readStamped(new File(path)).collect {
              case (x, since) if since >= 1L && since <= t => x
            }
          case _ => AvroTransforms.read(new File(path))
        }

      /** Pushed-filter predicates over transform segments, per segment
        * name (see [[AvroTransforms.checksFor]] for the monotonicity
        * argument — unlike buckets, RANGES prune here).
        */
      private lazy val xformChecks: Map[String, Seq[String => Boolean]] =
        AvroTransforms.checksFor(xformSpec, filters.toSeq)

      // runtime join-key IN-sets resolved to transform segments
      @volatile private var runtimeXform: Map[String, Set[String]] =
        Map.empty

      /** Do the transform checks (pushed + runtime) allow this file's
        * segments? Missing segment = keep (pre-transform / evolved
        * files), same as buckets.
        */
      private def xformMayKeep(vals: Map[String, String]): Boolean =
        xformChecks.forall { case (seg, preds) =>
          vals.get(seg) match {
            case None => true
            case Some(raw) => preds.forall(_(raw))
          }
        } && runtimeXform.forall { case (seg, allowed) =>
          vals.get(seg) match {
            case None => true
            case Some(raw) => allowed.contains(raw)
          }
        }

      /** Columns eligible for runtime ZONE pruning: covered by the
        * all-column manifest somewhere, of a type whose internal→external
        * literal conversion and zone ordering are both exact. Together
        * with the partition columns these are the attributes Spark may
        * hand us join-key IN-sets for — the DPP analogue extended from
        * directory layout to per-file zones, so an unpartitioned (but
        * zoned) fact table still skips whole files under a selective
        * broadcast join.
        */
      private lazy val rtZoneCols: Seq[String] = {
        import org.apache.spark.sql.types._
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty) Nil
        else colZones.columns.toSeq
          .filter { c =>
            AvroFilterEval.leafType(full, c).exists {
              case StringType | IntegerType | LongType | BooleanType |
                   ShortType | ByteType => true
              case _ => false
            } && colZones.boundsOf(c).nonEmpty
          }
      }

      /** Only columns surviving in the scan OUTPUT may be declared:
        * Spark resolves these refs against the pruned read schema
        * (V2ExpressionUtils.resolveRefs), and an unresolvable declared
        * attribute is an AnalysisException, not a skipped filter. A
        * join key is necessarily projected, so this loses nothing.
        */
      override def filterAttributes(): Array[NamedReference] = {
        val meta =
          if (rowLevelCapture.isDefined &&
              readSchema().fieldNames.contains(AvroFileSource.MetaFile))
            Seq(AvroFileSource.MetaFile)
          else Nil
        ((partitionCols ++ rtZoneCols ++ bucketByCol.keys ++
          xformSpec.map(_.col)).distinct
          .filter(readSchema().fieldNames.contains) ++ meta)
          .map(Expressions.column).toArray
      }

      /** Normalized string key for a literal / partition value so the
        * two representations (Catalyst internal literal vs directory
        * string) compare reliably; None = unsupported type, skip pruning
        * on that column (sound).
        */
      private def litKey(l: Literal[_]): Option[String] = {
        import org.apache.spark.sql.types._
        l.dataType match {
          // Float/Double are deliberately unsupported: string keying
          // breaks on -0.0 vs 0.0 (join keys normalize them equal) and
          // NaN (Spark joins treat NaN = NaN) — skipping = never prune
          case StringType | IntegerType | LongType | BooleanType =>
            Some(String.valueOf(l.value))
          case DateType => Some(java.time.LocalDate
            .ofEpochDay(l.value.asInstanceOf[Int].toLong).toString)
          case _: DecimalType =>
            Some(AvroFileSource.canonicalValue(l.value))
          // V2 timestamp literals carry epoch MICROS longs — already
          // the canonical form
          case TimestampType | TimestampNTZType =>
            Some(String.valueOf(l.value))
          case _ => None
        }
      }

      private def valKey(v: Any): String = v match {
        case d: java.sql.Date => d.toLocalDate.toString
        case x => String.valueOf(x)
      }

      /** Internal literal → EXTERNAL value for zone comparison; None =
        * type unsupported (skip — never prune). The same safe-type set
        * as zone recording; floats excluded for the litKey reasons.
        */
      private def litExternal(l: Literal[_]): Option[Any] = {
        import org.apache.spark.sql.types._
        l.dataType match {
          case StringType => Some(String.valueOf(l.value))
          case IntegerType | LongType | BooleanType | ShortType | ByteType =>
            Option(l.value)
          case _ => None
        }
      }

      override def filter(predicates: Array[Predicate]): Unit = {
        val ins = predicates.toSeq.flatMap { p =>
          p.children() match {
            case ch if p.name() == "IN" && ch.nonEmpty =>
              (ch.head, ch.tail) match {
                case (ref: NamedReference, lits)
                    if lits.forall(_.isInstanceOf[Literal[_]]) =>
                  Some((ref.fieldNames().mkString("."),
                    lits.toSeq.map(_.asInstanceOf[Literal[_]])))
                case _ => None
              }
            case _ => None
          }
        }
        runtimeIn = ins.flatMap { case (col, lits) =>
          val keys = lits.map(litKey)
          if (partitionCols.contains(col) && keys.forall(_.isDefined))
            Some(col -> keys.flatten.toSet)
          else None
        }.toMap
        // row-level group filtering: an IN-set on the `_graft_file`
        // metadata column narrows the scan to the affected files
        ins.find(_._1 == AvroFileSource.MetaFile).foreach {
          case (_, lits) =>
            val vals = lits.map(litKey)
            if (vals.forall(_.isDefined))
              runtimeFileSet = Some(vals.flatten.toSet)
        }
        // zone-set cap: a huge build side would cost files×values driver
        // checks for little selectivity — skipping entirely is sound
        runtimeZoneVals = ins.flatMap { case (col, lits) =>
          val vs = lits.map(litExternal)
          if (rtZoneCols.contains(col) && lits.size <= 10000 &&
              vs.forall(_.isDefined))
            Some(col -> vs.flatten.toSet)
          else None
        }.toMap
        // join-key IN-sets resolve to target buckets: each key hashes to
        // exactly one segment, so a build side of any selectivity prunes
        // the fact table to |keys| buckets at most (same 10k cost cap)
        runtimeBucket = ins.flatMap { case (col, lits) =>
          bucketByCol.get(col).flatMap { n =>
            val keys = lits.map(litKey)
            if (lits.size <= 10000 && keys.forall(_.isDefined))
              Some(col -> keys.flatten
                .map(k => AvroFileSource.bucketOf(k, n).toString).toSet)
            else None
          }
        }.toMap
        // join-key IN-sets resolve to transform segments the same way:
        // each key maps to exactly one segment value (day/month/… of
        // the key), so a selective build side prunes a days-partitioned
        // fact table to |keys| directories at most
        runtimeXform = ins.flatMap { case (col, lits) =>
          xformSpec.find(_.col == col).flatMap { x =>
            if (lits.size > 10000) None
            else {
              // runtime literals normally carry the column's type; a
              // bare internal-representation type (LongType micros for
              // a timestamp column, IntegerType days for a date) falls
              // back to the DECLARED column type — same value identity
              val colDt = full.fields.find(_.name == col).map(_.dataType)
              val segs = lits.map { l =>
                AvroTransforms.internalSeg(x, l.dataType(), l.value())
                  .orElse(colDt.flatMap { dt =>
                    import org.apache.spark.sql.types._
                    val compat = (dt, l.dataType()) match {
                      case (TimestampType, LongType) => true
                      case (TimestampNTZType, LongType) => true
                      case (DateType, IntegerType) => true
                      case _ => false
                    }
                    if (compat)
                      AvroTransforms.internalSeg(x, dt, l.value())
                    else None
                  })
              }
              if (segs.forall(_.isDefined))
                Some(x.segName -> segs.flatten.toSet)
              else None
            }
          }
        }.toMap
      }

      /** Zone check for the runtime IN-sets: a file survives when, for
        * every filtered column, it has no bounds (absence ⇒ scan) or at
        * least one IN value may land inside [lo, hi] (undecidable
        * compares keep the file — same soundness rules as zoneMayKeep).
        */
      private def runtimeZoneKeep(f: File): Boolean =
        runtimeZoneVals.isEmpty || {
          val abs = f.getAbsolutePath
          runtimeZoneVals.forall { case (c, vs) =>
            zoneBoundsOf(c).get(abs) match {
              case None => true
              case Some((lo, hi)) => vs.exists { v =>
                (AvroFilterEval.cmp(v, lo), AvroFilterEval.cmp(v, hi)) match {
                  case (Some(a), Some(b)) => a >= 0 && b <= 0
                  case _ => true // undecidable: keep
                }
              }
            }
          }
        }

      /** Do the runtime IN-sets allow this partition-value assignment?
        * A null directory value never equals a join key (equality join
        * semantics), so IN-filtered columns prune their null directory.
        */
      private def runtimeMayMatch(vals: Map[String, String]): Boolean =
        runtimeIn.forall { case (c, keys) =>
          vals.get(c) match {
            case None => true
            case Some(raw) =>
              full.fields.find(_.name == c)
                .flatMap(f => AvroFileSource.castPartitionValue(raw, f.dataType)) match {
                case Some(null) => false
                case Some(v) => keys.contains(valKey(v))
                case None => true // unparsable: never prune on it
              }
          }
        }

      // batch CDC (r16): `spark.read.option("readChangeFeed", true)`
      // serves the (startingVersion-1, endingVersion] journal range as
      // one batch — startingVersion defaults to 1 (the full journal),
      // endingVersion to the current version
      override def toBatch: Batch = this
      /** May files under this partition-value assignment match the
        * pushed filters? Only filters FULLY over partition columns with
        * parseable values participate (a conjunct mixing data columns is
        * skipped — sound, Spark re-evaluates everything anyway).
        */
      private def partitionMayMatch(vals: Map[String, String]): Boolean = {
        if (vals.isEmpty || filters.isEmpty) return true
        val bound = full.fields.filter(f => vals.contains(f.name)).flatMap(
          f => AvroFileSource.castPartitionValue(vals(f.name), f.dataType)
            .map(v => (f, v)))
        if (bound.isEmpty) return true
        val pschema = StructType(bound.map(_._1))
        val prow = org.apache.spark.sql.Row.fromSeq(
          bound.map(_._2).toIndexedSeq)
        val applicable = filters.filter(AvroFilterEval.accepts(pschema, _))
        AvroFilterEval.build(pschema, applicable)(prow)
      }

      // One listing walk per Scan (outputPartitioning, planInputPartitions
      // and statistics all consume it; a scan is a point-in-time snapshot
      // anyway). Pruning filters re-apply per call — runtime IN-sets
      // arrive after planning starts. A time-travel scan lists the
      // SNAPSHOT's files instead (live-first, then archive), re-deriving
      // partition values from each recorded relative path — the archive
      // preserves the relative layout exactly so `k=v` segments parse
      // the same.
      /** (relative files, delete-sidecar content, posdel-sidecar
        * content) when the scan targets history instead of the live
        * directory: a versionAsOf snapshot, or a fromVersion..toVersion
        * incremental changeset (whose append-only soundness
        * incrementalFiles() enforces). Positional deletes journal per
        * version since r16, so the snapshot's own recorded overlay
        * applies — exactly like equality deletes.
        */
      private lazy val travelState
          : Option[(Seq[String], Option[String], Option[String])] =
        travelVersion.map { v =>
          val snap = AvroFileSource.readSnapshots(new File(path))
            .find(_.version == v).getOrElse(throw new IllegalStateException(
              s"graft-avro: snapshot version $v vanished from $path"))
          (snap.files, snap.deletes, snap.posdels)
        }.orElse(incRange.map { case (fromV, toV) =>
          val files = AvroFileSource.incrementalFiles(new File(path),
            fromV, toV)
          // deletes (both flavors) are proven UNCHANGED across the
          // range, and were in force when the appended rows landed —
          // they apply
          val toSnap = AvroFileSource.readSnapshots(new File(path))
            .find(_.version == toV).get
          (files, toSnap.deletes, toSnap.posdels)
        })
      /** Branch (WAP) read state: physical files of main's fork
        * snapshot plus the overlay's live files, the fork snapshot's
        * delete-sidecar content, and overlay-file births pinned to
        * Long.MaxValue so VERSION-STAMPED fork deletes never touch rows
        * the branch itself appended (unstamped legacy entries keep
        * their documented apply-everywhere contract). The overlay must
        * not carry its own delete sidecar — branches are append-only.
        */
      private lazy val branchState: Option[(
          Seq[(File, Map[String, String])], Option[String],
          Map[String, Long], Option[String])] =
        branch.map { b =>
          val d = new File(path)
          val (forkV, bd) = AvroFileSource.branchFork(d, b)
          val snap = AvroFileSource.readSnapshots(d)
            .find(_.version == forkV).getOrElse(
              throw new IllegalStateException(
                s"graft-avro: branch '$b' fork version $forkV vanished " +
                  s"from $path (expired snapshot?)"))
          require(!AvroFileSource.deleteFile(bd).isFile,
            s"graft-avro: branch '$b' carries a delete sidecar; " +
              "branches are append-only overlays")
          val mainFiles = snap.files.sorted.map { rel =>
            (AvroFileSource.resolveSnapshotFile(d, rel), partValsOf(rel))
          }
          val overlay = AvroFileSource.listPartitioned(bd)
          val births = overlay.map { case (f, _) =>
            f.getAbsolutePath -> Long.MaxValue
          }.toMap
          // the FORK snapshot's posdel overlay governs main's files;
          // branch overlay files are never position-deleted (appends)
          (mainFiles ++ overlay, snap.deletes, births, snap.posdels)
        }

      private def partValsOf(rel: String): Map[String, String] =
        AvroFileSource.partValsOfRel(rel)

      private lazy val listed: Seq[(File, Map[String, String])] =
        travelState match {
          case Some((files, _, _)) => files.sorted
            .filter(rel => restrictFiles.forall(_.contains(rel)))
            .map { rel =>
              (AvroFileSource.resolveSnapshotFile(new File(path), rel),
                partValsOf(rel))
            }
          case None => branchState match {
            case Some((files, _, births, _)) =>
              // the audit feed plans ONLY the overlay (its files are
              // the ones with pinned MaxValue births) — never a scan of
              // main's bulk just to discard it
              if (branchOverlayOnly)
                files.filter(f => births.contains(f._1.getAbsolutePath))
              else files
            // journal-served when one exists — no directory walk
            case None => AvroFileSource.listLive(new File(path))
          }
        }

      /** Per-file [min, max] of any pushed-filter column (the sort
        * column included) from `_graft_zones_cols`, written on every
        * batch commit: no per-file header open, and files without an
        * entry scan normally. Served from the builder's one manifest
        * parse, per column on demand: static filters and the runtime
        * (join-key) pruning path ask only for their own columns. Time
        * travel reads none (the manifest describes the CURRENT file set).
        */
      private def zoneBoundsOf(col: String): Map[String, (Any, Any)] =
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty)
          Map.empty
        else colZones.boundsOf(col)

      // the columns the pushed filters reference: zoneMayMatch answers
      // "may match" for a bound of any other column
      private lazy val filterCols: Seq[String] =
        filters.toSeq.flatMap(_.references).distinct

      // the IS [NOT] NULL conjuncts the `cnt:` cells can prune (colmap
      // renames stand it down — cells live under historical names;
      // absence of a cell = keep, as for every manifest)
      private lazy val nullConjuncts: Seq[Filter] =
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty ||
          AvroFileSource.colmapFile(new File(path)).isFile) Nil
        else {
          def conjuncts(flt: Filter): Seq[Filter] = flt match {
            case org.apache.spark.sql.sources.And(a, b) =>
              conjuncts(a) ++ conjuncts(b)
            case x => Seq(x)
          }
          filters.toSeq.flatMap(conjuncts).filter {
            case org.apache.spark.sql.sources.IsNull(_) |
                 org.apache.spark.sql.sources.IsNotNull(_) |
                 org.apache.spark.sql.sources.EqualNullSafe(_, null) => true
            case _ => false
          }
        }

      /** IS NULL / IS NOT NULL file pruning from the `cnt:` cells: a
        * pushed `IsNull(c)` conjunct drops files with zero nulls in c,
        * `IsNotNull(c)` drops all-null files. Equality deletes only
        * shrink a file's row set — a file with zero nulls still has
        * zero nulls — so the cells stay sound under merge-on-read.
        */
      private def nullMayKeep(f: File): Boolean = nullConjuncts.isEmpty || {
        val abs = f.getAbsolutePath
        def cell(c: String) = colZones.nullCellsOf(c).get(abs)
        nullConjuncts.forall {
          case org.apache.spark.sql.sources.IsNull(c) =>
            cell(c).forall { case (nn, total) => nn < total }
          case org.apache.spark.sql.sources.IsNotNull(c) =>
            cell(c).forall { case (nn, _) => nn > 0L }
          case org.apache.spark.sql.sources.EqualNullSafe(c, null) =>
            cell(c).forall { case (nn, total) => nn < total }
          case _ => true
        }
      }

      /** Membership probes from the CURRENT filter state: static
        * equality/IN conjuncts plus runtime join-key IN-sets, one
        * probe per predicate, value hashes precomputed. Recomputed on
        * call — runtime filters arrive after planning.
        */
      private def bloomProbeMap(): Map[String, Seq[AvroFileSource.BloomProbe]] = {
        import org.apache.spark.sql.sources._
        val static = filters.toSeq.collect {
          case EqualTo(c, v) if v != null =>
            c -> AvroFileSource.bloomProbeEq(
              Seq(AvroFileSource.canonicalValue(v)))
          case EqualNullSafe(c, v) if v != null =>
            c -> AvroFileSource.bloomProbeEq(
              Seq(AvroFileSource.canonicalValue(v)))
          case In(c, vs) if vs != null =>
            c -> AvroFileSource.bloomProbeEq(vs.toSeq.filter(_ != null)
              .map(AvroFileSource.canonicalValue))
        }
        val runtime = runtimeZoneVals.toSeq.map { case (c, vs) =>
          c -> AvroFileSource.bloomProbeEq(vs.map(_.toString))
        }
        (static ++ runtime).groupMap(_._1)(_._2)
      }

      // Streaming bloom verdicts, cached per runtime-filter state (one
      // manifest pass at plan time, one more if runtime join keys
      // arrive). Heap is O(dropped files) — the decoded bits are
      // transient inside bloomDroppedFiles — so membership pruning
      // survives 100k-file manifests instead of standing down at a
      // cap; probing NOTHING when no filter can use a bloom keeps the
      // filterless scan at zero manifest reads (BloomScaleSpec pins
      // all three properties).
      @volatile private var bloomDropCache
          : Option[(Map[String, Set[Any]], Set[String])] = None

      private def bloomDropped: Set[String] =
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty)
          Set.empty
        else bloomDropCache match {
          case Some((k, s)) if k == runtimeZoneVals => s
          case _ =>
            val key = runtimeZoneVals
            val dir = new File(path)
            val s = AvroFileSource.bloomDroppedFiles(
              AvroFileSource.bloomFile(dir), dir, full, bloomProbeMap())
            bloomDropCache = Some((key, s))
            s
        }

      /** Membership pruning from static equality/IN filters AND
        * runtime join-key IN-sets (blooms catch the scattered-key case
        * zone ranges cannot): a file is skippable when some probe's
        * every candidate value is definitely absent from its bloom.
        * Absence of an entry ⇒ keep; null values never match an
        * equality filter anyway.
        */
      private def bloomMayKeep(f: File): Boolean =
        !bloomDropped.contains(f.getAbsolutePath)

      /** Substring probes: contains / startsWith / endsWith needles of
        * length >= 3 (prefix and suffix matches imply containment, so
        * the same trigram entry serves all three). A row containing
        * needle s necessarily contains EVERY trigram of s, so a file
        * whose trigram bloom definitely lacks one holds no match;
        * false positives only cause keeps.
        */
      private def trigramProbeMap(): Map[String, Seq[AvroFileSource.BloomProbe]] = {
        import org.apache.spark.sql.sources._
        filters.toSeq.collect {
          case StringContains(c, v) if v != null && v.length >= 3 =>
            c -> AvroFileSource.bloomProbeSubstring(v)
          case StringStartsWith(c, v) if v != null && v.length >= 3 =>
            c -> AvroFileSource.bloomProbeSubstring(v)
          case StringEndsWith(c, v) if v != null && v.length >= 3 =>
            c -> AvroFileSource.bloomProbeSubstring(v)
        }.groupMap(_._1)(_._2)
      }

      // trigram needles are static-only (no runtime component), so the
      // verdict set resolves once per scan
      @volatile private var trigramDropCache: Option[Set[String]] = None

      private def trigramDropped: Set[String] =
        if (travelVersion.nonEmpty || incRange.nonEmpty || branch.nonEmpty)
          Set.empty
        else trigramDropCache match {
          case Some(s) => s
          case None =>
            val dir = new File(path)
            val s = AvroFileSource.bloomDroppedFiles(
              AvroFileSource.bloomFile(dir), dir, full, trigramProbeMap(),
              trigram = true)
            trigramDropCache = Some(s)
            s
        }

      private def trigramMayKeep(f: File): Boolean =
        !trigramDropped.contains(f.getAbsolutePath)

      /** Block-range zone index, parsed once per scan: per file, the
        * chunk byte ranges with their decoded bounds (None = all-null
        * or unparseable chunk — always kept). Files whose entries mix
        * columns or whose recorded type differs from the read type
        * drop out (absence ⇒ normal split). Live reads only — the
        * entries describe current files.
        */
      // one sidecar parse per scan — ZONE lines only, filtered while
      // the file streams (bloom-tagged cells are ~5.5 KB base64 each
      // and must not sit on the driver for the scan's lifetime; the
      // chunk-bloom verdicts below stream the file separately)
      private lazy val blockIdxRaw
          : Map[String, Seq[(String, String, Long, Long, String, String)]] =
        if (travelVersion.nonEmpty || incRange.nonEmpty ||
            branch.nonEmpty || cdcFeed) Map.empty
        else AvroFileSource.readBlockIdxRaw(
          AvroFileSource.blockIdxFile(new File(path)),
          tag => !tag.startsWith("bloom:") &&
            tag != AvroFileSource.TrigramTypeTag)

      private lazy val blockIdxChunks
          : Map[String, Seq[(Long, Long, Seq[(String, (Any, Any))])]] = {
          val dir = new File(path)
          blockIdxRaw.flatMap { case (rel, es) =>
            // per column: recorded type must equal the read type — a
            // mismatched (renamed/retyped) column drops, others keep
            // pruning; unparseable or "-" (all-null chunk) bounds
            // simply contribute nothing for that chunk
            val byCol = es.groupBy(e => (e._1, e._2))
            val colBounds
                : Seq[(String, Map[(Long, Long), Option[(Any, Any)]])] =
              byCol.toSeq.flatMap { case ((colEnc, dtStr), ces) =>
                val col = java.net.URLDecoder.decode(colEnc, "UTF-8")
                full.fields.find(_.name == col)
                  .filter(_.dataType.simpleString == dtStr)
                  .map { fld =>
                    col -> ces.map { case (_, _, s, e, mn, mx) =>
                      val bounds =
                        if (mn == "-" || mx == "-") None
                        else for {
                          lo <- AvroFileSource
                            .castPartitionValue(mn, fld.dataType)
                          if lo != null
                          hi <- AvroFileSource
                            .castPartitionValue(mx, fld.dataType)
                          if hi != null
                        } yield (lo, hi)
                      (s, e) -> bounds
                    }.toMap
                  }
              }
            if (colBounds.isEmpty) None
            else {
              // the chunk frame comes from the first column (the writer
              // cuts every column at the same boundaries; a column
              // missing a range contributes nothing for that chunk)
              val frame = colBounds.head._2.keys.toSeq.sorted
              Some(new File(dir, rel).getAbsolutePath -> frame.map {
                case (s, e) =>
                  (s, e, colBounds.flatMap { case (c, m) =>
                    m.get((s, e)).flatten.map(c -> _)
                  })
              })
            }
          }
        }

      /** Per-chunk membership VERDICTS from the `chunkBloomFor` cells
        * (`bloom:<type>`-tagged sidecar lines whose recorded type equals
        * the read leaf type — the type-tag invisibility rule): per file,
        * the chunk ranges some equality/join-key probe definitively
        * rules out. The sidecar STREAMS — each 4 KB cell decodes into
        * one transient array, only for PROBED columns, and the retained
        * state is O(dropped chunks) — so chunk-level membership pruning
        * survives any table size (the r16 file-bloom verdict posture;
        * cached per runtime-filter state, so at most two passes per
        * scan). Absence ⇒ keep; a malformed line drops alone, and an
        * unreadable sidecar keeps everything.
        */
      @volatile private var chunkBloomDropCache
          : Option[(Map[String, Set[Any]],
            Map[String, Set[(Long, Long)]])] = None
      private def chunkBloomDropped: Map[String, Set[(Long, Long)]] =
        chunkBloomDropCache match {
          case Some((k, m)) if k == runtimeZoneVals => m
          case _ =>
            val probes = bloomProbeMap()
            // substring probes (r19): contains/startsWith/endsWith
            // needles against `trigram:string` chunk cells — a chunk
            // definitely lacking ANY trigram of the needle holds no
            // match (the file-level trigram rule at chunk granularity)
            val trigProbes = trigramProbeMap()
            val dir = new File(path)
            val bf = AvroFileSource.blockIdxFile(dir)
            val m: Map[String, Set[(Long, Long)]] =
              if ((probes.isEmpty && trigProbes.isEmpty) || !bf.isFile ||
                  travelVersion.nonEmpty || incRange.nonEmpty ||
                  branch.nonEmpty || cdcFeed) Map.empty
              else StatsManifests.read(StatsManifests.BlockIdx, bf) { lines =>
                val dropped = scala.collection.mutable
                  .HashMap.empty[String, Set[(Long, Long)]]
                lines.foreach { l =>
                  val dtStr = l(2)
                  val isTrig = dtStr == AvroFileSource.TrigramTypeTag
                  if (isTrig || dtStr.startsWith("bloom:")) {
                    val col = java.net.URLDecoder.decode(l(1), "UTF-8")
                    val ps =
                      if (isTrig) trigProbes.getOrElse(col, Nil)
                      else probes.getOrElse(col, Nil)
                    val typeOk = ps.nonEmpty &&
                      full.fields.find(_.name == col).exists(f =>
                        if (isTrig)
                          f.dataType == org.apache.spark.sql.types.StringType
                        else
                          "bloom:" + f.dataType.simpleString == dtStr &&
                            AvroFileSource.bloomableType(f.dataType))
                    if (typeOk)
                      AvroFileSource.decodeBloom(l(5)).foreach { bits =>
                        if (!ps.forall(AvroFileSource.probePass(bits, _))) {
                          val abs = new File(dir, l.rel).getAbsolutePath
                          dropped(abs) = dropped.getOrElse(abs,
                            Set.empty) + ((l(3).toLong, l(4).toLong))
                        }
                      }
                  }
                }
                dropped.toMap
              }
            chunkBloomDropCache = Some((runtimeZoneVals, m))
            m
        }

      /** The file's surviving chunk ranges under the pushed conjunction
        * — emitted as its input partitions instead of blind byte splits
        * (block-level skipping INSIDE a sorted file) — or None = serve
        * normally (no index, stale tiling, or nothing pruned anyway).
        */
      private def chunkRanges(f: File): Option[Seq[(Long, Long)]] = {
        // nothing to prune on — skip the (lazy) sidecar read entirely
        if (filters.isEmpty && runtimeZoneVals.isEmpty) return None
        blockIdxChunks.get(f.getAbsolutePath).flatMap { chunks =>
          // coverage sanity: ranges must tile [0, length) contiguously
          // (the file's trailing sync may sit past the last range)
          val covers = chunks.nonEmpty && chunks.head._1 == 0L &&
            chunks.sliding(2).forall {
              case Seq((_, e1, _), (s2, _, _)) => e1 == s2
              case _ => true
            } && chunks.last._2 >= f.length() - 16
          if (!covers) None
          else {
            // a chunk survives when EVERY indexed column's bounds
            // may-match every pushed filter AND any runtime join-key
            // IN-set on that column (same rule as runtimeZoneKeep) —
            // for a compound sort spec the secondary column's bounds
            // are tight within primary-equal runs, exactly what buys
            // pruning on the second key — AND no chunk-bloom verdict
            // ruled it out (r18: a broadcast join-key set drops
            // CHUNKS, not just files)
            val bloomDroppedChunks = chunkBloomDropped
              .getOrElse(f.getAbsolutePath, Set.empty)
            val kept = chunks.filter { case (cs, ce, cols) =>
              cols.forall { case (col, (lo, hi)) =>
                filters.forall(
                  AvroFilterEval.zoneMayMatch(col, lo, hi, _)) &&
                  runtimeZoneVals.get(col).forall(_.exists { v =>
                    (AvroFilterEval.cmp(v, lo),
                      AvroFilterEval.cmp(v, hi)) match {
                      case (Some(a), Some(b)) => a >= 0 && b <= 0
                      case _ => true // undecidable: keep
                    }
                  })
              } && !bloomDroppedChunks((cs, ce))
            }
            if (kept.size == chunks.size) None
            else Some(kept.map { case (s, e, _) => (s, e) }
              .foldLeft(List.empty[(Long, Long)]) {
                // merge adjacent survivors, capped at the split size
                case ((ps, pe) :: t, (s, e))
                    if s == pe && e - ps <= maxSplitBytes =>
                  (ps, e) :: t
                case (acc, r) => r :: acc
              }.reverse
              // re-split any surviving range still past the split size
              // (one 4096-row chunk of wide rows can exceed it) so
              // partition sizing matches the unpruned path — the
              // sync/pastSync block rule makes ANY byte boundary valid
              .flatMap { case (s, e) =>
                if (e - s <= maxSplitBytes) Seq((s, e))
                else (s until e by maxSplitBytes).map(off =>
                  (off, math.min(off + maxSplitBytes, e)))
              })
          }
        }
      }

      private def zoneMayKeep(f: File): Boolean = {
        // a file survives only if EVERY pushed filter may-matches under
        // EVERY column bound we hold for it (filters are conjunctive;
        // zoneMayMatch answers true for filters over other columns)
        val abs = f.getAbsolutePath
        filterCols.forall(c => zoneBoundsOf(c).get(abs) match {
          case Some((mn, mx)) =>
            filters.forall(AvroFilterEval.zoneMayMatch(c, mn, mx, _))
          case None => true
        })
      }

      @volatile private var runtimeFileSet: Option[Set[String]] = None

      /** STATICALLY pushed equality/IN conjuncts on the `_graft_file`
        * metadata column restrict the scan to the named files — the
        * value is constant per file (its own relative path), so a
        * non-listed file holds no matching row. compactPartition's
        * transform-segment rewrite reads through exactly this. The
        * filter itself stays residual (Spark re-applies it post-scan).
        */
      private val staticFileSet: Option[Set[String]] = staticFiles

      /** Table-relative path of a data file (the `_graft_file` value). */
      private def relOf(f: File): String =
        new File(path).getAbsoluteFile.toPath
          .relativize(f.getAbsoluteFile.toPath).toString

      /** [[relOf]] with the archive prefix stripped: the logical
        * identity of a snapshot-resolved file.
        */
      private def logicalRelOf(f: File): String =
        AvroFileSource.logicalRel(new File(path), f)

      /** Fully-pushed (zone-decided) filters: serve EXACTLY the decided
        * keep-set — Spark re-applies nothing, so emitting any row of a
        * non-all-match file would be wrong. The decisions were pinned
        * over the live listing at pushFilters time; a file that appears
        * afterwards (concurrent commit between pushdown and planning)
        * was never decided and must fail LOUDLY, not scan.
        */
      private def decidedKeep(f: File): Boolean = decided match {
        case Some((over, keep)) =>
          require(over.contains(f.getAbsolutePath),
            s"graft-avro: ${f.getName} appeared after filter-pushdown " +
              "decisions were pinned (concurrent commit) — rerun the query")
          keep.contains(f.getAbsolutePath)
        case None => true
      }

      private def prunedFiles(): Seq[(File, Map[String, String])] =
        listed
          // partition-directory pruning: skip whole files whose k=v path
          // proves they cannot match — the scan never opens them
          .filter { case (f, vals) =>
            decidedKeep(f) &&
              partitionMayMatch(vals) && runtimeMayMatch(vals) &&
              bucketMayKeep(vals) && xformMayKeep(vals) && nullMayKeep(f) &&
              zoneMayKeep(f) && runtimeZoneKeep(f) &&
              bloomMayKeep(f) && trigramMayKeep(f) &&
              runtimeFileSet.forall(_.contains(relOf(f))) &&
              // compare on the LOGICAL rel — the value decode fills:
              // historical reads serve archived files from under
              // `_graft_archive/`, but their `_graft_file` value (and
              // any filter on it) is the original table-relative path
              staticFileSet.forall(_.contains(logicalRelOf(f))) }

      /** Catalyst-internal key value for one partition column (SPJ keys
        * compare internally); None = type unsupported for key grouping.
        */
      private def internalKeyValue(raw: String,
          dt: org.apache.spark.sql.types.DataType): Option[Any] = {
        import org.apache.spark.sql.types._
        dt match {
          // float/double excluded: -0.0/NaN string round-trips disagree
          // with join-key normalization (same reasoning as litKey)
          case StringType | IntegerType | LongType | BooleanType | DateType =>
            AvroFileSource.castPartitionValue(raw, dt).map {
              case null => null
              case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
              case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
              case v => v
            }
          case _ => None
        }
      }

      /** The pruned file list with each file's Catalyst-internal
        * partition-key tuple, when the layout supports key reporting:
        * every file carries a parseable value for every partition
        * column of a supported type. None = flat/drifted layout.
        */
      private def keyedFiles(): Option[Seq[(File, InternalRow)]] = {
        if ((partitionCols.isEmpty && bucketSpec.isEmpty) ||
          !preserveGrouping || cdcFeed) return None
        val fields = partitionCols.map(c => full.fields.find(_.name == c).get)
        val keyed = prunedFiles().map { case (f, vals) =>
          val key = fields.map(fld => vals.get(fld.name)
            .flatMap(internalKeyValue(_, fld.dataType))) ++
            // bucket key components: the segment's bucket ordinal. A
            // missing segment or a `__null__` bucket declines key
            // reporting entirely (an int key can't carry it)
            bucketSpec.map { case (c, _) =>
              vals.get(AvroFileSource.bucketSegName(c))
                .filter(_ != "__null__")
                .flatMap(raw => scala.util.Try(raw.toInt: Any).toOption)
            }
          (f, key)
        }
        if (keyed.exists(_._2.exists(_.isEmpty))) None
        else Some(keyed.map { case (f, key) =>
          (f, InternalRow.fromSeq(key.map(_.get))) })
      }

      /** Report the hive-style layout as [[KeyGroupedPartitioning]]
        * (Iceberg's preserve-data-grouping shape): each split carries
        * its [[HasPartitionKey]], and Spark's BatchScanExec groups
        * same-key splits into one task, so co-partitioned avro tables
        * join — and partition-key aggregations run — WITHOUT an
        * exchange (storage-partitioned joins). Opt-in via
        * `.option("preservePartitioning", true)` because the grouping
        * trades per-file scan parallelism for exchange elimination.
        */
      override def outputPartitioning(): Partitioning = keyedFiles() match {
        case Some(files) => new KeyGroupedPartitioning(
          (partitionCols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression) ++
            bucketSpec.map { case (c, n) => Expressions.bucket(n, c)
              : org.apache.spark.sql.connector.expressions.Expression })
            .toArray, files.length)
        case None => new UnknownPartitioning(0)
      }

      // merge-on-read: parse the equality-delete sidecar ONCE at plan
      // time (a corrupt sidecar fails the read here, driver-side). A
      // time-travel read applies the SNAPSHOT's recorded deletes — the
      // current sidecar may postdate (or predate) the version.
      private lazy val rowDeletes: Seq[AvroFileSource.DeleteEntry] =
        travelState.map(_._2).orElse(branchState.map(_._2)) match {
          case Some(del) => del
            .map(AvroFileSource.parseDeleteContent(_, full)).getOrElse(Nil)
          case None =>
            val delF = AvroFileSource.deleteFile(new File(path))
            if (delF.isFile) AvroFileSource.readDeletes(delF, full)
            else Nil
        }
      private lazy val rowRenames = AvroFileSource.readColmap(new File(path))
      // birth versions of the planned files by absolute path: stamped
      // deletes and renames consult them, and a branch pins its overlay
      private lazy val rowBirths: Map[String, Long] =
        AvroFileSource.birthsByPhysicalPath(new File(path), rowDeletes,
          force = rowRenames.nonEmpty,
          planned = Some(prunedFiles().map(p => logicalRelOf(p._1)).toSet)) ++
          branchState.map(_._3).getOrElse(Map.empty)
      private def rowBirth(file: String): Long = rowBirths.getOrElse(file, 0L)

      // absolute-path-keyed positional deletes (live + archive); split
      // ranges seed their ordinal via the block-header prefix walk.
      // Historical reads apply their SNAPSHOT's recorded overlay (the
      // live sidecar may postdate or predate the version — exactly the
      // equality-delete rule); branches apply the fork snapshot's.
      private lazy val posdelsByPath: Map[String, Array[Long]] = {
        val d = new File(path)
        val byRel: Map[String, Array[Long]] = travelState match {
          case Some((_, _, pos)) =>
            pos.map(AvroFileSource.parsePosdelContent).getOrElse(Map.empty)
          case None => branchState match {
            case Some((_, _, _, pos)) =>
              pos.map(AvroFileSource.parsePosdelContent).getOrElse(Map.empty)
            case None => AvroFileSource.readPosdel(d)
          }
        }
        byRel.flatMap { case (rel, ps) =>
          Seq(new File(d, rel).getAbsolutePath -> ps,
            new File(AvroFileSource.archiveDir(d), rel).getAbsolutePath -> ps)
        }
      }

      private def split(f: File): Seq[(String, Long, Long)] = {
        // one task per container file, except files larger than the
        // split size, which fan out as sync-aligned byte ranges — a
        // single huge file must not pin a single task at scale.
        // Positional deletes and `_graft_pos` split fine since r16:
        // each range derives its starting ordinal from a block-header
        // prefix walk (recordsBefore), so absolute ordinals stay
        // countable without reading from the file start.
        val len = f.length()
        if (len <= maxSplitBytes)
          Seq((f.getAbsolutePath, 0L, Long.MaxValue))
        else (0L until len by maxSplitBytes).map { off =>
          (f.getAbsolutePath, off, math.min(off + maxSplitBytes, len))
        }
      }

      /** Batch CDC: the full version range in one read (the planner and
        * per-partition readers are exactly the stream's), planned once
        * for both the partitions and the reader factory's births.
        */
      private lazy val cdcPartitions: Array[InputPartition] = {
        val cur = AvroFileSource.readSnapshots(new File(path))
          .lastOption.map(_.version).getOrElse(
            throw new IllegalStateException(
              s"graft-avro CDC: $path has no snapshot journal — " +
                "write through the source at least once"))
        val s = cdcStartVersion.getOrElse(1L) - 1
        require(s >= 0,
          s"graft-avro CDC: startingVersion must be >= 1")
        val e = cdcEndVersion.getOrElse(cur)
        require(e <= cur,
          s"graft-avro CDC: endingVersion $e is beyond the current " +
            s"version $cur")
        require(e >= s,
          s"graft-avro CDC: endingVersion $e predates startingVersion")
        AvroCdcPlan.partitions(path, s, e, cdcAllowInitialSnapshot,
          maxSplitBytes)
      }

      override def planInputPartitions(): Array[InputPartition] =
        if (cdcFeed) cdcPartitions
        else if (aggAny.nonEmpty) {
          // the manifest fold already happened at pushdown: one partition
          // carrying the clean-file row, zero clean data files opened.
          // HYBRID under posdel: the dirty files re-scan as real partial
          // aggregates beside it (split normally; the reader folds each
          // range to one min/max row under the posdel overlay)
          val head: InputPartition = AvroAggRowPartition(aggAny.map(_._3))
          if (aggDirtyRels.isEmpty) Array(head)
          else head +: aggDirtyRels.flatMap { rel =>
            split(new File(new File(path), rel)).map { case (p, s, e) =>
              AvroInputPartition(p, s, e): InputPartition
            }
          }.toArray
        } else if (groupSpecs.nonEmpty) {
          // grouped metadata stats: one tiny row per kept file carrying
          // its partition values + pre-resolved zone-bound cells (+ a
          // block-header count when requested); Spark folds per key.
          // Zero rows decoded; composes with zone-decided filters via
          // prunedFiles.
          prunedFiles().flatMap { case (f, pv) =>
            val raws = groupCols.map(c => pv.getOrElse(c,
              throw new IllegalStateException(
                s"graft-avro: ${f.getName} lacks partition value '$c' " +
                  "(appeared after grouped-stats pushdown) — rerun")))
            // posdel-dirty files re-scan as per-file partial rows
            // (keys + in-file MIN/MAX fold under the overlay); clean
            // files keep the zero-decode cells
            if (groupHybridP(f.getAbsolutePath))
              split(f).map { case (p, s, e) =>
                AvroGroupHybridPartition(p, s, e, raws): InputPartition
              }
            else {
              val cells = groupCells.getOrElse(f.getAbsolutePath,
                throw new IllegalStateException(
                  s"graft-avro: ${f.getName} appeared after grouped-stats " +
                    "pushdown (no resolved zone cells) — rerun"))
              Seq(AvroGroupStatsPartition(f.getAbsolutePath, raws, cells)
                : InputPartition)
            }
          }.toArray[InputPartition]
        } else if (counting && groupCols.nonEmpty) {
          // grouped zero-decode count: one ranged block-header count per
          // split, tagged with the file's raw partition values; posdel
          // dead rows subtract on the file's FIRST split (the positions
          // are per-file totals, and every split shares the group key)
          val pd = AvroFileSource.readPosdel(new File(path))
          prunedFiles().flatMap { case (f, pv) =>
            val raws = groupCols.map { c =>
              val raw = pv.getOrElse(c,
                throw new IllegalStateException(
                  s"graft-avro: ${f.getName} lacks partition value '$c' " +
                    "(appeared after grouped-count pushdown) — rerun"))
              // hidden day-transform segments carry the epoch day;
              // translate to the ISO date the reader's DateType cast
              // parses (coverage was validated at pushdown — a file
              // appearing since fails loudly, like a missing segment)
              if (groupEpochSegs(c) && raw != "__null__")
                java.time.LocalDate.ofEpochDay(raw.toLongOption.getOrElse(
                  throw new IllegalStateException(
                    s"graft-avro: ${f.getName} segment '$c' not an " +
                      "epoch day (appeared after grouped-count " +
                      "pushdown) — rerun"))).toString
              else raw
            }
            val dead = pd.getOrElse(relOf(f), Array.emptyLongArray)
              .length.toLong
            split(f).zipWithIndex.map { case ((p, s, e), i) =>
              AvroGroupCountPartition(p, s, e, raws,
                if (i == 0) -dead else 0L)
            }
          }.toArray[InputPartition]
        } else {
          val base: Array[InputPartition] = keyedFiles() match {
            case Some(files) => files.flatMap { case (f, key) =>
              split(f).map { case (p, s, e) =>
                AvroKeyedPartition(p, s, e, key, rowBirth(p)) }
            }.toArray[InputPartition]
            case None =>
              // row-level ops: remember exactly which files this scan
              // serves — the write replaces them at commit — and the
              // delete-sidecar fingerprint at this moment, so the commit
              // can detect a concurrent deleteWhere/deleteAtPositions
              // whose effect the rewrite would otherwise silently lose
              rowLevelCapture.foreach(
                _.set(AvroFileSource.RowLevelScanState(
                  prunedFiles().map(p => relOf(p._1)).toSet,
                  Some(AvroFileSource.deleteStateFingerprint(
                    new File(path))))))
              prunedFiles().flatMap { case (f, _) =>
                // block-level skipping: only when the scan may row-skip
                // freely — a row-level op's scan is group-exact (every
                // row of a kept file must be served) and fully-pushed
                // decided filters already pinned their keep-set
                val chunked =
                  if (rowLevelCapture.isEmpty && decided.isEmpty)
                    chunkRanges(f)
                  else None
                chunked match {
                  case Some(rs) => rs.map { case (s, e) =>
                    AvroInputPartition(f.getAbsolutePath, s, e,
                      rowBirth(f.getAbsolutePath)) }
                  case None => split(f).map { case (p, s, e) =>
                    AvroInputPartition(p, s, e, rowBirth(p)) }
                }
              }.toArray[InputPartition]
          }
          // COUNT(*) under positional deletes: dead rows still count in
          // block headers, so one extra partition carries the exact
          // negative adjustment (positions are validated in-range and
          // distinct at write time — the subtraction is exact). Only
          // PLANNED files' deads count: under fully-pushed decided
          // filters the pruned files' rows (dead or alive) are out
          val deadRows =
            if (counting) {
              val keptRels = prunedFiles().map(p => relOf(p._1)).toSet
              AvroFileSource.readPosdel(new File(path))
                .filter { case (rel, _) => keptRels(rel) }
                .values.map(_.length.toLong).sum
            } else 0L
          if (deadRows > 0L) base :+ AvroCountAdjustPartition(-deadRows)
          else base
        }
      override def createReaderFactory(): PartitionReaderFactory =
        if (cdcFeed) {
          val dirF = new File(path)
          AvroCdcReaderFactory(required,
            StructType(full.fields.filterNot(f =>
              f.name == AvroFileSource.CdcChangeType ||
                f.name == AvroFileSource.CdcCommitVersion)),
            AvroFileSource.birthsByPhysicalPath(dirF, Nil, force = true,
              planned = Some(AvroCdcPlan.plannedRels(dirF, cdcPartitions))),
            AvroFileSource.readColmap(dirF), path)
        }
        else if (groupSpecs.nonEmpty && groupHybridP.nonEmpty) {
          // grouped hybrid: clean files' cells via the count factory;
          // dirty files decode JUST the aggregated columns under the
          // posdel overlay and fold to one (keys, partials) row
          val inner = AvroReaderFactory(groupHybridS, full,
            Array.empty, None, Nil,
            AvroFileSource.birthsByPhysicalPath(new File(path), Nil,
              force = false),
            Nil, posdelsByPath, root = path, columnarBatch = 0)
          AvroGroupHybridReaderFactory(AvroCountReaderFactory(required),
            inner, groupHybridSp, groupHybridS, required, groupCols.length)
        }
        else if (counting || groupSpecs.nonEmpty) AvroCountReaderFactory(required)
        else if (aggAny.nonEmpty) {
          val base = AvroAggRowReaderFactory(aggAny.map(_._2))
          if (aggDirtyRels.isEmpty) base
          else {
            // dirty-file partial scan: rows decode over JUST the
            // aggregated columns with the posdel overlay applied
            // (equality deletes / renames already stood pushdown down)
            val inner = AvroReaderFactory(aggHybridStruct, full,
              Array.empty, None, Nil,
              AvroFileSource.birthsByPhysicalPath(new File(path), Nil,
                force = false),
              Nil, posdelsByPath, root = path, columnarBatch = 0)
            AvroHybridAggReaderFactory(base, inner, aggHybridSpecs,
              aggHybridStruct)
          }
        }
        else {
          // ROW-LEVEL contract: pushed filters prune FILES (a pruned
          // file provably holds no match, so it is not an affected
          // group), but must never skip ROWS — Spark rewrites whole
          // groups, and a decode-time row skip would drop every
          // unmatched row of a replaced file
          val rowFilters =
            if (rowLevelCapture.isDefined) Array.empty[Filter] else filters
          val rowLimit = if (rowLevelCapture.isDefined) None else limit
          // births ride on the partitions (rowBirth), not the factory
          AvroReaderFactory(required, full, rowFilters, rowLimit, rowDeletes,
            Map.empty, rowRenames, posdelsByPath, root = path,
            columnarBatch = columnarRows)
        }
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        require(travelVersion.isEmpty && incRange.isEmpty && branch.isEmpty,
          "graft-avro: time travel and branch reads are batch-only (a " +
            "stream tails the CURRENT version by definition)")
        if (cdcFeed) {
          require(cdcEndVersion.isEmpty,
            "graft-avro CDC: endingVersion is a batch option — a stream " +
              "tails the journal indefinitely")
          new AvroCdcMicroBatchStream(path, required,
            StructType(full.fields.filterNot(f =>
              f.name == AvroFileSource.CdcChangeType ||
                f.name == AvroFileSource.CdcCommitVersion)),
            cdcStartVersion, cdcMaxVersions, cdcAllowInitialSnapshot,
            maxSplitBytes)
        }
        else
          new AvroMicroBatchStream(path, required, full, checkpointLocation,
            maxFilesPerTrigger, journalCompactAfter, maxBytesPerTrigger)
      }
      /** On-disk bytes INFLATED by a compression factor. For broadcast
        * planning an underestimate is the unsafe direction (a table
        * several× the threshold in memory could be auto-broadcast and
        * OOM executors), so compressed containers are scaled up:
        * `spark.sql.sources.fileCompressionFactor` when the user set it,
        * else 3× for any real codec (1× for codec "null"), decided from
        * the first file's header as [[WriterSchemas]] memoizes it.
        */
      override def estimateStatistics(): Statistics = new Statistics {
        // fully-pushed decided filters restrict the scan to the pinned
        // keep-set: stats describe exactly those files (post-"filter")
        private val files = decided match {
          case Some((_, keep)) =>
            listed.map(_._1).filter(f => keep.contains(f.getAbsolutePath))
          case None => listed.map(_._1)
        }
        private val factor: Double = {
          val conf = try org.apache.spark.sql.SparkSession.active.conf
            .get("spark.sql.sources.fileCompressionFactor", "").toDouble
          catch { case _: Exception => Double.NaN }
          if (!conf.isNaN && conf > 0) conf
          else {
            val codec = files.headOption.flatMap { f =>
              try Some(WriterSchemas.of(f).codec)
              catch { case _: Exception => None }
            }.getOrElse("null")
            if (codec == "null") 1.0 else 3.0
          }
        }
        override def sizeInBytes(): java.util.OptionalLong =
          // a change feed replays the whole version range — removed/
          // archived files come back as delete rows, so the LIVE
          // listing can badly undercount a churn-heavy history, and an
          // underestimate is the unsafe direction (auto-broadcast
          // OOM). Answer "unknown" and let Spark plan conservatively.
          if (cdcFeed) java.util.OptionalLong.empty()
          else java.util.OptionalLong.of(
            math.ceil(files.map(_.length()).sum * factor).toLong)

        /** Stats are servable only for the LIVE version with no pending
          * deletes (a deleted row still counts in the manifests) —
          * historical reads answer "unknown" and plan conservatively.
          */
        private def statsServable: Boolean =
          travelVersion.isEmpty && incRange.isEmpty && branch.isEmpty &&
            !cdcFeed &&
            !AvroFileSource.deleteFile(new File(path)).isFile &&
            // renamed tables: NDV entries live under historical names —
            // a re-added name would serve the OLD column's registers
            !AvroFileSource.colmapFile(new File(path)).isFile
        // positional deletes: numRows stays exact by subtracting the
        // validated positions OF THE COUNTED FILES; columnStats go
        // hybrid per column (r20 — see its scaladoc)
        private def posdelDead: Long = {
          val rels = liveRels.toSet
          AvroFileSource.readPosdel(new File(path))
            .filter { case (rel, _) => rels(rel) }
            .values.map(_.length.toLong).sum
        }
        private lazy val liveRels: Seq[String] = {
          val base = new File(path).getAbsoluteFile.toPath
          files.map { f =>
            base.relativize(f.getAbsoluteFile.toPath).toString
          }
        }

        /** EXACT row count from the `_graft_rows` manifest — served only
          * under FULL coverage (a file outside the manifest, e.g. a
          * streamed epoch or a legacy write, withholds the total rather
          * than undercount it).
          */
        override def numRows(): java.util.OptionalLong = {
          if (!statsServable) return java.util.OptionalLong.empty()
          val m = AvroFileSource.readRowsRaw(
            AvroFileSource.rowsFile(new File(path)))
          if (liveRels.nonEmpty && liveRels.forall(m.contains))
            java.util.OptionalLong.of(liveRels.map(m).sum - posdelDead)
          else java.util.OptionalLong.empty()
        }

        /** Per-column statistics for Spark's CBO: NDV estimates from the
          * opt-in `_graft_ndv` HLL manifest (per-file registers merge by
          * element-wise max; a column is served only when every live
          * file carries a type-matching entry — all-null files emit
          * none, which correctly withholds the column) PLUS exact
          * min/max for integral/date columns folded from the all-column
          * zone manifest under the same full-coverage + type-tag rules
          * as the metadata aggregate (`__null__` markers keep all-null
          * files coverage-checkable while contributing no bounds;
          * strings are withheld — truncated bounds are inexact and CBO
          * range estimation doesn't use them; floats never — NaN).
          *
          * POSITIONAL deletes (r20): hybrid, not wholesale stand-down.
          * Per column: min/max fold over CLEAN files only and serve iff
          * every dirty file's bounds sit inside the clean range (a dirty
          * extreme may be a dead row — unknowable which); null counts
          * serve iff every dirty file holds ZERO nulls (its dead rows
          * then can't include one; clean files contribute exactly); NDV
          * serves the merged pre-delete sketch — deletes only LOWER true
          * distinct count, so the estimate stays a sound upper bound
          * well inside the sketch's own ±6.5% tolerance class.
          */
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
          val out = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          if (!statsServable) return out
          if (liveRels.isEmpty) return out
          val dirtyRels: Set[String] = {
            val rels = liveRels.toSet
            AvroFileSource.readPosdel(new File(path))
              .filter { case (rel, ps) => rels(rel) && ps.nonEmpty }
              .keySet
          }
          val ndvByCol: Map[String, Long] = {
            val nd = AvroFileSource.readNdvRaw(
              AvroFileSource.ndvFile(new File(path)))
            if (!liveRels.forall(nd.contains)) Map.empty
            else {
              val perFile = liveRels.map(nd)
              perFile.head.map(_._1).distinct.flatMap { colEnc =>
                val col = java.net.URLDecoder.decode(colEnc, "UTF-8")
                val readType = AvroFilterEval.leafType(full, col)
                val regsPerFile = perFile.map(_.collectFirst {
                  case (c, dt, b64) if c == colEnc &&
                      readType.exists(AvroFileSource.cellTypeApplies(dt, _)) =>
                    scala.util.Try(
                      java.util.Base64.getDecoder.decode(b64)).toOption
                      .filter(_.length == AvroFileSource.NdvRegisters)
                }.flatten)
                if (readType.isDefined && regsPerFile.forall(_.isDefined)) {
                  val merged = new Array[Byte](AvroFileSource.NdvRegisters)
                  regsPerFile.flatten.foreach { r =>
                    var i = 0
                    while (i < merged.length) {
                      if (r(i) > merged(i)) merged(i) = r(i)
                      i += 1
                    }
                  }
                  Some(col -> AvroFileSource.ndvEstimate(merged))
                } else None
              }.toMap
            }
          }
          val zonesRaw: Option[Map[String,
              Seq[(String, String, String, String)]]] = {
            val zfc = AvroFileSource.colZoneFile(new File(path))
            if (zfc.isFile) Some(colZonesRaw) else None
          }
          val boundsByCol: Map[String, (Any, Any)] = {
            import org.apache.spark.sql.types._
            zonesRaw match {
              case None => Map.empty
              case Some(raw) =>
              full.fields.toSeq.flatMap { fld =>
                val eligible = fld.dataType match {
                  case LongType | IntegerType | ShortType | ByteType |
                       DateType => true
                  // strings serve too (r18) — the per-entry cap guard
                  // below withholds maybe-truncated bounds
                  case StringType => true
                  // timestamps (r19): the events-table join key — zone
                  // bounds round-trip via Timestamp.valueOf exactly;
                  // catalyst internal = epoch micros (the DateType
                  // epoch-days precedent). Decimals round-trip via
                  // BigDecimal toString. Both already prune via the
                  // same encoding, so serving CBO bounds adds no new
                  // exactness hazard.
                  case TimestampType => true
                  case _: DecimalType => true
                  case _ => false
                }
                if (!eligible) None
                else {
                  val enc = java.net.URLEncoder.encode(fld.name, "UTF-8")
                  val per = liveRels.map { rel =>
                    raw.getOrElse(rel, Nil).collectFirst {
                      case (`enc`, dtN, mn, mx)
                          if AvroFileSource.cellTypeApplies(dtN,
                            fld.dataType) => (mn, mx)
                    }.map(rel -> _)
                  }
                  if (per.exists(_.isEmpty)) None // uncovered file
                  else {
                    // an all-null file (clean OR dirty) contributes no
                    // bounds and is always safe — deletes can't mint a
                    // non-null extreme out of nulls
                    val parsed = per.flatten
                      .filter(_._2._1 != "__null__")
                      .map { case (rel, (mn, mx)) =>
                        for {
                          lo <- AvroFileSource
                            .castPartitionValue(mn, fld.dataType)
                            if lo != null
                          hi <- AvroFileSource
                            .castPartitionValue(mx, fld.dataType)
                            if hi != null
                          // a string bound AT the 64-char truncation cap
                          // is maybe-truncated ⇒ inexact: withhold the
                          // whole column (bounds below the cap are the
                          // verbatim extremes — exact)
                          if (fld.dataType != StringType || (
                            lo.asInstanceOf[String].length <
                              AvroFileSource.StringBoundMax &&
                            hi.asInstanceOf[String].length <
                              AvroFileSource.StringBoundMax))
                        } yield (rel, lo, hi)
                      }
                    if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
                    else {
                      val all = parsed.flatten
                      val vs = all.filterNot(v => dirtyRels(v._1))
                        .map(v => (v._2, v._3))
                      val dirtyVs = all.filter(v => dirtyRels(v._1))
                        .map(v => (v._2, v._3))
                      if (vs.isEmpty) None // every valued file is dirty
                      else {
                      val lo = vs.map(_._1).reduceLeft((a, b) =>
                        if (AvroFilterEval.cmp(a, b).exists(_ <= 0)) a
                        else b)
                      val hi = vs.map(_._2).reduceLeft((a, b) =>
                        if (AvroFilterEval.cmp(a, b).exists(_ >= 0)) a
                        else b)
                      val sound = vs.forall { case (a, b) =>
                        AvroFilterEval.cmp(a, lo).isDefined &&
                          AvroFilterEval.cmp(b, hi).isDefined
                      } &&
                        // a dirty file whose bounds sit INSIDE the clean
                        // range can't extend it whichever rows died; one
                        // outside could — its extreme may be dead, the
                        // true surviving bound unknowable
                        dirtyVs.forall { case (a, b) =>
                          AvroFilterEval.cmp(a, lo).exists(_ >= 0) &&
                            AvroFilterEval.cmp(b, hi).exists(_ <= 0)
                        }
                      // catalyst-internal representation for the plan
                      // stats (dates are epoch days, strings UTF8String)
                      def internal(v: Any): Any = v match {
                        case d: java.sql.Date =>
                          d.toLocalDate.toEpochDay.toInt
                        case s: String => org.apache.spark.unsafe.types
                          .UTF8String.fromString(s)
                        case t: java.sql.Timestamp =>
                          org.apache.spark.sql.catalyst.util.DateTimeUtils
                            .fromJavaTimestamp(t)
                        case b: java.math.BigDecimal =>
                          org.apache.spark.sql.types.Decimal(b)
                        case x => x
                      }
                      if (sound)
                        Some(fld.name -> (internal(lo), internal(hi)))
                      else None
                      }
                    }
                  }
                }
              }.toMap
            }
          }
          // exact per-column null counts from the `cnt:` cells (r18):
          // any leaf type — non-null count and row total are recorded
          // even for non-finite float files; full coverage required.
          // Under posdel a dirty file serves only when it holds ZERO
          // nulls (its dead rows then can't include one — the surviving
          // null count stays exactly the clean-file sum); any null in a
          // dirty file is maybe-dead ⇒ withhold the column.
          val nullsByCol: Map[String, Long] = zonesRaw match {
            case None => Map.empty
            case Some(raw) =>
              full.fields.toSeq.flatMap { fld =>
                val enc = java.net.URLEncoder.encode(fld.name, "UTF-8")
                val per = liveRels.map { rel =>
                  raw.getOrElse(rel, Nil).collectFirst {
                    case (`enc`, tag, nn, tot) if AvroFileSource
                        .cellTypeApplies(tag, fld.dataType, "cnt:") =>
                      (nn.toLongOption, tot.toLongOption) match {
                        case (Some(a), Some(b)) if a >= 0 && b >= a =>
                          Some(b - a)
                        case _ => None
                      }
                  }.flatten
                }
                if (per.exists(_.isEmpty)) None
                else if (liveRels.zip(per.map(_.get)).exists {
                  case (rel, n) => dirtyRels(rel) && n > 0 }) None
                else Some(fld.name -> per.flatten.sum)
              }.toMap
          }
          (ndvByCol.keySet ++ boundsByCol.keySet ++ nullsByCol.keySet)
            .foreach { col =>
            out.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(col),
              new org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  ndvByCol.get(col)
                    .map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  boundsByCol.get(col)
                    .map(b => java.util.Optional.of(
                      b._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  boundsByCol.get(col)
                    .map(b => java.util.Optional.of(
                      b._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def nullCount(): java.util.OptionalLong =
                  nullsByCol.get(col)
                    .map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
          }
          out
        }
      }
      override def description(): String =
        s"graft-avro $path (${required.fieldNames.mkString(",")}) " +
          s"PushedFilters: [${filters.mkString(", ")}]" +
          (if (counting)
            " PushedAggregation: [COUNT(*)]" + (if (groupCols.nonEmpty)
              s" PushedGroupBy: [${groupCols.mkString(", ")}]" else "")
           else if (groupSpecs.nonEmpty)
             " PushedAggregation: [" + groupSpecs.map {
               case ("count", _) => "COUNT(*)"
               case (k, c) => s"${k.toUpperCase(java.util.Locale.ROOT)}($c)"
             }.mkString(", ") + "]" +
               s" PushedGroupBy: [${groupCols.mkString(", ")}]"
           else if (aggAny.nonEmpty)
             " PushedAggregation: [" +
               required.fieldNames.map { n =>
                 // MIN(col)/MAX(col): uppercase the function, not the column
                 n.take(3).toUpperCase(java.util.Locale.ROOT) + n.drop(3)
               }.mkString(", ") + "]"
           else "")
    }
  }
}

/** Block-header count reader: walks container blocks via `nextBlock()`
  * (raw buffer, no record decode) and emits ONE partial-count row.
  */
/** One constant COUNT(*) partial — the negative adjustment that makes
  * the block-header count exact under positional deletes.
  */
case class AvroCountAdjustPartition(delta: Long) extends InputPartition

/** One ranged block-header count tagged with its file's RAW partition
  * values (the grouped-count pushdown): the reader emits
  * (group values…, count + delta), converting raw segment strings to
  * internal forms against the required schema on the executor.
  */
case class AvroGroupCountPartition(file: String, start: Long, end: Long,
    raws: Seq[String], delta: Long) extends InputPartition

/** One file's contribution to a grouped metadata-stats aggregate: its
  * raw partition values plus one pre-resolved cell per pushed
  * expression — `("count","")` = ranged block-header count of the whole
  * file, `("val", rawZoneBound)` = the file's manifest min/max (decoded
  * against the required schema on the executor), `("null","")` = an
  * all-null column (SQL MIN/MAX ignore it).
  */
case class AvroGroupStatsPartition(file: String, raws: Seq[String],
    cells: Seq[(String, String)]) extends InputPartition

case class AvroCountReaderFactory(required: StructType)
  extends PartitionReaderFactory {

  private def countRange(file: File, start: Long, end: Long): Long = {
    val reader = new DataFileReader[GenericRecord](
      file, new GenericDatumReader[GenericRecord]())
    var n = 0L
    try {
      if (start > 0) reader.sync(start)
      val bound = math.min(end, file.length()) // pastSync overflow
      while (reader.hasNext && !reader.pastSync(bound)) {
        n += reader.getBlockCount
        reader.nextBlock()
      }
    } finally reader.close()
    n
  }

  /** Raw partition-segment / zone-manifest value → catalyst internal
    * form against the required field type (`__null__` and unparseable
    * both land on null — for group keys that IS the null key; for
    * stat cells the pushdown pre-validated parseability).
    */
  private[sources] def toInternal(raw: String,
      dt: org.apache.spark.sql.types.DataType): Any =
    AvroFileSource.castPartitionValue(raw, dt) match {
      case Some(null) | None => null
      case Some(s: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case Some(d: java.sql.Date) =>
        d.toLocalDate.toEpochDay.toInt
      case Some(v) => v
    }

  private def oneRow(row: => InternalRow): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done
      override def get(): InternalRow = { done = true; row }
      override def close(): Unit = ()
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case AvroCountAdjustPartition(delta) =>
        return oneRow(InternalRow(delta))
      case AvroGroupCountPartition(file, start, end, raws, delta) =>
        return oneRow {
          val n = countRange(new File(file), start, end) + delta
          val keys = raws.zip(required.fields.init).map { case (raw, f) =>
            toInternal(raw, f.dataType)
          }
          InternalRow.fromSeq(keys :+ java.lang.Long.valueOf(n))
        }
      case AvroGroupStatsPartition(file, raws, cells) =>
        return oneRow {
          val nKeys = raws.length
          val keys = raws.zip(required.fields.take(nKeys)).map {
            case (raw, f) => toInternal(raw, f.dataType)
          }
          val aggs = cells.zip(required.fields.drop(nKeys)).map {
            case (("count", _), _) => java.lang.Long.valueOf(
              countRange(new File(file), 0L, Long.MaxValue))
            case (("null", _), _) => null
            case (("val", enc), f) => toInternal(enc, f.dataType)
            // pre-resolved exact SUM / non-null-COUNT partials (the
            // pushdown validated parseability)
            case (("sumv", s), _) => java.lang.Long.valueOf(s.toLong)
            case (("cntv", n), _) => java.lang.Long.valueOf(n.toLong)
            case ((k, _), _) => throw new IllegalStateException(
              s"graft-avro grouped stats: unknown cell kind '$k'")
          }
          InternalRow.fromSeq(keys ++ aggs)
        }
      case _ => ()
    }
    val part = AvroReaderFactory.range(partition)
    oneRow(InternalRow(countRange(new File(part.file), part.start, part.end)))
  }
}

/** One precomputed aggregate row (the all-column-manifest MIN/MAX fold
  * happens driver-side at pushdown); `vals` are EXTERNAL values, None =
  * SQL null (all-null or empty column).
  */
case class AvroAggRowPartition(vals: Seq[Option[Any]]) extends InputPartition

case class AvroAggRowReaderFactory(
    dts: Seq[org.apache.spark.sql.types.DataType])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[AvroAggRowPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done
      override def get(): InternalRow = {
        done = true
        InternalRow.fromSeq(part.vals.zip(dts).map {
          case (None, _) => null
          case (Some(v), dt) =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToCatalystConverter(dt)(v)
        })
      }
      override def close(): Unit = ()
    }
  }
}

/** HYBRID MIN/MAX under positional deletes: the clean files' manifest
  * fold rides in as one [[AvroAggRowPartition]] (zero decode), while
  * each posdel-bearing file's splits arrive as ordinary
  * [[AvroInputPartition]]s whose rows this factory folds executor-side
  * into ONE partial (min, max, …) row — decoded under the posdel
  * overlay, so dead rows never contribute an extreme. Spark's final
  * aggregation combines the partials (pushAggregation never claims
  * complete pushdown).
  */
case class AvroHybridAggReaderFactory(aggRow: AvroAggRowReaderFactory,
    inner: PartitionReaderFactory,
    specs: Seq[(Boolean, Int)], // per output: (isMin, ordinal in struct)
    struct: StructType)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case _: AvroAggRowPartition => aggRow.createReader(partition)
      case other =>
        val r = inner.createReader(other)
        new PartitionReader[InternalRow] {
          private var emitted = false
          private var row: InternalRow = _
          private val ords = struct.fields.map(f =>
            org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(f.dataType))
          // reader rows may reuse buffers: copy a value when it becomes
          // the running best (primitives are immutable boxes; strings
          // clone their bytes)
          private def own(v: Any): Any = v match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
            case x => x
          }
          override def next(): Boolean = {
            if (emitted) return false
            val best = new Array[Any](specs.length)
            while (r.next()) {
              val in = r.get()
              var si = 0
              while (si < specs.length) {
                val (isMin, ci) = specs(si)
                if (!in.isNullAt(ci)) {
                  val v = in.get(ci, struct(ci).dataType)
                  val cur = best(si)
                  val better = cur == null || {
                    val c = ords(ci).compare(v, cur)
                    if (isMin) c < 0 else c > 0
                  }
                  if (better) best(si) = own(v)
                }
                si += 1
              }
            }
            row = InternalRow.fromSeq(best.toIndexedSeq)
            emitted = true
            true
          }
          override def get(): InternalRow = row
          override def close(): Unit = r.close()
        }
    }
}

/** One byte-range split of a posdel-DIRTY file under the GROUPED
  * metadata-stats hybrid (r19): carries the file's raw partition
  * values — constant per file, so every split of it shares the group
  * key — and folds its surviving rows executor-side.
  */
case class AvroGroupHybridPartition(file: String, start: Long, end: Long,
    raws: Seq[String]) extends InputPartition

/** GROUPED hybrid under positional deletes: clean files' cells rows
  * serve through the wrapped [[AvroCountReaderFactory]]; each dirty
  * file's split decodes JUST the aggregated columns under the posdel
  * overlay (the `inner` row factory) and folds to ONE
  * (group keys, partial MIN/MAX/SUM/COUNT(col) [, surviving-row count])
  * row. SUM partials accumulate with `Math.addExact` — an overflow
  * throws exactly where Spark's own ANSI sum over the same surviving
  * rows would (never a silently wrapped value); an all-null-survivors
  * SUM stays the NULL partial SQL expects. Spark's final aggregation
  * merges per key (pushAggregation never claims complete pushdown).
  * Mirrors [[AvroHybridAggReaderFactory]] with the group keys
  * prepended.
  */
case class AvroGroupHybridReaderFactory(cells: AvroCountReaderFactory,
    inner: PartitionReaderFactory,
    specs: Seq[(String, Int)], // per output: ("count", -1) | (kind, ord)
    struct: StructType, required: StructType, nKeys: Int)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case AvroGroupHybridPartition(file, start, end, raws) =>
        val r = inner.createReader(AvroInputPartition(file, start, end))
        new PartitionReader[InternalRow] {
          private var emitted = false
          private var row: InternalRow = _
          private val ords = struct.fields.map(f =>
            org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(f.dataType))
          // reader rows may reuse buffers: copy a value when it becomes
          // the running best
          private def own(v: Any): Any = v match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
            case x => x
          }
          private def longOf(in: InternalRow, ci: Int): Long =
            struct(ci).dataType match {
              case org.apache.spark.sql.types.ByteType =>
                in.getByte(ci).toLong
              case org.apache.spark.sql.types.ShortType =>
                in.getShort(ci).toLong
              case org.apache.spark.sql.types.IntegerType =>
                in.getInt(ci).toLong
              case _ => in.getLong(ci)
            }
          override def next(): Boolean = {
            if (emitted) return false
            val best = new Array[Any](specs.length)
            val nn = new Array[Long](specs.length)
            var surviving = 0L
            while (r.next()) {
              val in = r.get()
              surviving += 1
              var si = 0
              while (si < specs.length) {
                val (kind, ci) = specs(si)
                if (kind != "count" && !in.isNullAt(ci)) {
                  kind match {
                    case "cnt" => nn(si) += 1L
                    case "sum" =>
                      val prev =
                        if (best(si) == null) 0L
                        else best(si).asInstanceOf[java.lang.Long]
                          .longValue()
                      best(si) = java.lang.Long.valueOf(
                        Math.addExact(prev, longOf(in, ci)))
                    case _ =>
                      val v = in.get(ci, struct(ci).dataType)
                      val cur = best(si)
                      val better = cur == null || {
                        val c = ords(ci).compare(v, cur)
                        if (kind == "min") c < 0 else c > 0
                      }
                      if (better) best(si) = own(v)
                  }
                }
                si += 1
              }
            }
            emitted = true
            // a split with NO surviving rows contributes NOTHING — a
            // (keys, count 0, null bounds) partial would resurrect a
            // fully-deleted group that SQL says does not exist
            if (surviving == 0L) return false
            val keys = raws.zip(required.fields.take(nKeys)).map {
              case (raw, f) => cells.toInternal(raw, f.dataType)
            }
            val aggs = specs.zipWithIndex.map {
              case (("count", _), _) => java.lang.Long.valueOf(surviving)
              case (("cnt", _), si) => java.lang.Long.valueOf(nn(si))
              case (_, si) => best(si)
            }
            row = InternalRow.fromSeq(keys ++ aggs)
            true
          }
          override def get(): InternalRow = row
          override def close(): Unit = r.close()
        }
      case other => cells.createReader(other)
    }
}

/** Streaming tail of an avro directory. Offsets index an APPEND-ORDER
  * registry of discovered files, not the raw sorted listing: container
  * files are immutable once written, but later writers' names can sort
  * BETWEEN earlier ones (part-00000-15 < part-00000-3 lexicographically),
  * so a count-into-sorted-listing offset would re-read or skip files.
  * `latestOffset` appends newly discovered names to the registry;
  * a micro-batch reads registry slots (start, end], one partition per
  * file — each file is consumed exactly once while the stream runs.
  *
  * The registry is DURABLE: discovery order is journaled to an
  * append-only log under the query's checkpoint location (the same idea
  * as Spark's FileStreamSource metadata log). On driver restart the
  * registry is rebuilt from the journal, so offset `n` always denotes
  * the same n-file prefix — files that arrived during an outage are
  * appended AFTER the journaled prefix and picked up by the next batch,
  * preserving exactly-once across restarts.
  *
  * COMPACTION bounds the journal on long-running streams with source
  * retention: after each epoch commit, the contiguous PREFIX of entries
  * that are both (a) below the committed offset and (b) no longer on
  * disk is dropped, and its length is carried as a `#base=<k>` header —
  * offset `n` keeps meaning "the first n files ever discovered" (entry
  * position = base + registry index), so checkpointed offsets survive
  * compaction. Only prefix entries are droppable (offsets are
  * positional), and only deleted files (a surviving file must keep its
  * membership or discovery would re-ingest it). The rewrite goes
  * through a temp file + atomic rename.
  */
class AvroMicroBatchStream(path: String, required: StructType,
    full: StructType, checkpointLocation: String,
    maxFilesPerTrigger: Option[Int] = None,
    compactAfter: Int = 4096,
    maxBytesPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: pin the registry end at query start; every
    * micro-batch (still rate-limited by `maxFilesPerTrigger`) drains
    * toward that fixed bound and the query stops there — files landing
    * mid-run wait for the next scheduled run. The batch-drain shape for
    * cron-style ingestion over a streaming checkpoint.
    */
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    discover()
    availableNowEnd = Some(base + seen.size)
  }

  private case class FileCountOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private val journal: File = {
    val base = checkpointLocation.stripPrefix("file:")
    val d = new File(base)
    d.mkdirs()
    new File(d, "graft-avro-seen.log")
  }

  // append-order registry of discovered files, rebuilt from the journal;
  // `base` = compacted-away prefix length (see class doc)
  private var base = 0L
  private val seen = new java.util.LinkedHashSet[String]()
  if (journal.isFile)
    java.nio.file.Files.readAllLines(journal.toPath).asScala
      .filter(_.nonEmpty).foreach {
        case l if l.startsWith("#base=") => base = l.stripPrefix("#base=").toLong
        case l => seen.add(l)
      }

  private def discover(): Unit = synchronized {
    val fresh = AvroFileSource.listAvro(new File(path))
      .map(_.getAbsolutePath).filterNot(seen.contains)
    if (fresh.nonEmpty) {
      // journal BEFORE exposing via offsets: a crash between the two
      // leaves extra journaled names, which simply re-enter the registry
      // in the same order on restart — never a skipped or re-read file
      java.nio.file.Files.write(journal.toPath,
        fresh.mkString("", "\n", "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      fresh.foreach(seen.add)
    }
  }

  override def initialOffset(): Offset = FileCountOffset(0L)
  override def deserializeOffset(json: String): Offset =
    FileCountOffset(json.trim.toLong)
  override def latestOffset(): Offset = {
    discover()
    FileCountOffset(base + seen.size)
  }

  /** Admission control (`maxFilesPerTrigger` / `maxBytesPerTrigger`):
    * bound each micro-batch by registry slots and/or summed on-disk
    * bytes past the start offset, so a backlog — most often a restart
    * after a long outage — drains as several right-sized batches
    * instead of one giant catch-up batch sized by the outage length.
    * Both set = a composite limit; the batch satisfies the TIGHTER one.
    */
  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(
          Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** Offset bound for one limit component: registry slots for maxFiles;
    * for maxBytes, admit files until their summed length crosses the
    * cap — always at least one (a single over-cap file must still make
    * progress, the standard file-source convention).
    */
  private def capOf(limit: ReadLimit, s: Long, horizon: Long): Long =
    limit match {
      case mf: ReadMaxFiles => math.min(horizon, s + mf.maxFiles())
      case mb: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        require(s >= base,
          s"offset $s predates the compacted journal prefix " +
            s"($base entries) — checkpoint and journal are out of sync")
        val files = synchronized {
          seen.asScala.toIndexedSeq.slice((s - base).toInt,
            (horizon - base).toInt)
        }
        // one stat per candidate; a registry entry whose file has since
        // been removed (overwrite/archive) stats as 0 — floor it at one
        // byte so an arbitrarily long run of dead slots cannot all be
        // admitted into a single batch
        var total = 0L
        var n = 0
        var full = false
        while (n < files.length && !full) {
          val len = math.max(new File(files(n)).length(), 1L)
          if (n == 0 || total + len <= mb.maxBytes()) { total += len; n += 1 }
          else full = true
        }
        s + n
      case c: org.apache.spark.sql.connector.read.streaming
          .CompositeReadLimit =>
        c.getReadLimits.map(capOf(_, s, horizon)).min
      case _ => horizon
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    discover()
    val s = start.asInstanceOf[FileCountOffset].n
    // AvailableNow pins the horizon at prepare time — later arrivals
    // stay out of THIS run (they are already journaled; the next run's
    // initial registry serves them in the same order)
    val horizon = availableNowEnd.getOrElse(base + seen.size)
    FileCountOffset(capOf(limit, s, horizon))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = (start.asInstanceOf[FileCountOffset].n - base).toInt
    val e = (end.asInstanceOf[FileCountOffset].n - base).toInt
    require(s >= 0,
      s"offset ${start.json()} predates the compacted journal prefix " +
        s"($base entries) — checkpoint and journal are out of sync")
    val files = synchronized {
      seen.asScala.toIndexedSeq.slice(s, e) // whole files: the stream's
        // offset granularity is the file, and arriving files are
        // task-sized; batch reads handle the huge-file fan-out
    }
    val d = new File(path)
    plannedRels = Some(files.map(f =>
      AvroFileSource.logicalRel(d, new File(f))).toSet)
    files.map(f => AvroInputPartition(f, 0L, Long.MaxValue): InputPartition)
      .toArray
  }

  /** Logical paths of the files the last [[planInputPartitions]] call
    * planned: Spark plans a micro-batch's partitions before it asks for
    * its reader factory, whose births map carries these files only.
    */
  @volatile private var plannedRels: Option[Set[String]] = None

  override def createReaderFactory(): PartitionReaderFactory = {
    // streaming reads are merge-on-read too: a replayed micro-batch must
    // not resurrect rows deleted since the file was registered — and the
    // version-stamp rule applies the same way (a delete committed BEFORE
    // a file landed must not kill that file's rows on replay)
    val delF = AvroFileSource.deleteFile(new File(path))
    val dels =
      if (delF.isFile) AvroFileSource.readDeletes(delF, full) else Nil
    val renames = AvroFileSource.readColmap(new File(path))
    val d = new File(path)
    val posdels = AvroFileSource.readPosdel(d).map { case (rel, ps) =>
      new File(d, rel).getAbsolutePath -> ps
    }
    AvroReaderFactory(required, full, deletes = dels,
      births = AvroFileSource.birthsByPhysicalPath(new File(path), dels,
        force = renames.nonEmpty, planned = plannedRels),
      renames = renames, posdels = posdels, root = path)
  }

  override def commit(end: Offset): Unit = synchronized {
    val committed = end.asInstanceOf[FileCountOffset].n
    if (seen.size >= compactAfter) {
      // drop the longest prefix of (committed AND deleted-from-disk)
      // entries; stop at the first survivor — offsets are positional
      val it = seen.asScala.iterator
      var dropped = 0L
      var stop = false
      val droppable = List.newBuilder[String]
      while (!stop && it.hasNext) {
        val f = it.next()
        if (base + dropped < committed && !new File(f).exists()) {
          droppable += f
          dropped += 1
        } else stop = true
      }
      if (dropped > 0) {
        droppable.result().foreach(seen.remove)
        base += dropped
        val tmp = new File(journal.getParentFile, journal.getName + ".tmp")
        java.nio.file.Files.write(tmp.toPath,
          (s"#base=$base" +: seen.asScala.toSeq)
            .mkString("", "\n", "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp.toPath, journal.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }
  override def stop(): Unit = ()
}

/** Streaming CDC change feed (`readStream … .option("readChangeFeed",
  * true)`): offsets are snapshot-journal VERSIONS, and each micro-batch
  * serves the per-version file deltas as rows tagged `_change_type`
  * ("insert" / "delete") and `_commit_version` — the Delta CDF shape.
  * Exactly-once for free: the journal is immutable and offsets are
  * deterministic version numbers, so a replayed batch re-reads the SAME
  * snapshots (archived files keep their bytes; an expireSnapshots that
  * vacuumed a version a lagging stream still needs fails LOUDLY, never
  * silently skips). Per-version granularity — intra-range churn is
  * visible, so a compaction surfaces as paired delete+insert rows of
  * equal content (the Iceberg changelog convention). The first batch
  * starts AFTER the stream-start version by default;
  * `startingVersion=v` replays history from version v onward.
  *
  * Equality-delete deltas are ROW-LEVEL changes and are served as
  * such: when the sidecar gains entries at a version step (a
  * deleteWhere / mergeInto commit), every file common to both
  * snapshots re-reads with the PREVIOUS sidecar applied and emits the
  * rows matching the NEW entries as `delete` rows — exactly the rows
  * that became invisible at that version. Symmetrically, entries that
  * DISAPPEAR at a step (rollback) emit the re-surfacing rows as
  * `insert`s. Per-file stamp gating rides the births map on both
  * sides, so MERGE re-insert semantics replay exactly. Pending
  * positional deletes still refuse (their ordinals are not journaled
  * per version). Each partition carries its role's sidecar CONTENT —
  * removed files read under the PREVIOUS version's deletes (their rows
  * were visible then), added files under the CURRENT version's — so a
  * delete landing while the stream lags never rewrites served history.
  *
  * `allowInitialSnapshot=true`: a startingVersion at or below the
  * journal's rebase horizon (expireSnapshots dropped the deltas) serves
  * the first RETAINED version as a full insert snapshot and continues
  * with deltas from there — opt-in, because a silent full replay
  * surprises lagging consumers; without it the stream fails loudly.
  */
class AvroCdcMicroBatchStream(path: String, required: StructType,
    dataFull: StructType, startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Long] = None,
    allowInitialSnapshot: Boolean = false,
    maxSplitBytes: Long = AvroFileSource.DefaultSplitBytes)
  extends MicroBatchStream with SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  private def dirF = new File(path)
  private def snaps: Seq[AvroFileSource.Snapshot] =
    AvroFileSource.readSnapshots(dirF)

  private case class VOffset(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  /** Trigger.AvailableNow: pin the version horizon at query start; the
    * run drains to it (still `maxVersionsPerTrigger`-rate-limited) and
    * stops — commits landing mid-run wait for the next scheduled run.
    */
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(snaps.lastOption.map(_.version).getOrElse(0L))

  /** Admission control: at most N journal versions per micro-batch, so
    * a lagging restart drains a long history as right-sized batches.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VOffset].v
    val horizon = availableNowEnd.getOrElse(
      snaps.lastOption.map(_.version).getOrElse(0L))
    val cap = limit match {
      case mf: ReadMaxFiles => math.min(horizon, s + mf.maxFiles())
      case _ => horizon
    }
    VOffset(math.max(cap, s))
  }

  override def initialOffset(): Offset = {
    val cur = snaps.lastOption.map(_.version).getOrElse(
      throw new IllegalStateException(
        s"graft-avro CDC: $path has no snapshot journal — write through " +
          "the source at least once"))
    startingVersion match {
      case Some(v) =>
        require(v >= 1, s"graft-avro CDC: startingVersion must be >= 1, got $v")
        VOffset(v - 1)
      case None => VOffset(cur)
    }
  }

  override def deserializeOffset(json: String): Offset =
    VOffset(json.trim.toLong)

  override def latestOffset(): Offset =
    VOffset(snaps.lastOption.map(_.version).getOrElse(0L))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VOffset].v
    val e = end.asInstanceOf[VOffset].v
    val parts = AvroCdcPlan.partitions(path, s, e, allowInitialSnapshot,
      maxSplitBytes)
    plannedRels = Some(AvroCdcPlan.plannedRels(dirF, parts))
    parts
  }

  /** Logical paths the last [[planInputPartitions]] call planned (Spark
    * plans a micro-batch before it asks for its reader factory).
    */
  @volatile private var plannedRels: Option[Set[String]] = None

  override def createReaderFactory(): PartitionReaderFactory = {
    val renames = AvroFileSource.readColmap(dirF)
    // births FORCED: partitions carry their own (historical) delete
    // sidecar content, so stamp gating may be needed even when the live
    // sidecar is empty; scoped to the micro-batch's planned files
    AvroCdcReaderFactory(required, dataFull,
      AvroFileSource.birthsByPhysicalPath(dirF, Nil, force = true,
        planned = plannedRels),
      renames, path)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The CDC partition planner shared by the streaming micro-batch source
  * and batch `readChangeFeed` reads: every change partition of the
  * journal-version range (s, e].
  */
private[sources] object AvroCdcPlan {

  /** Logical paths of the files `parts` read: the scope of the births
    * map their reader factory ships.
    */
  def plannedRels(dirF: File, parts: Array[InputPartition]): Set[String] =
    parts.iterator.collect { case p: AvroCdcPartition =>
      AvroFileSource.logicalRel(dirF, new File(p.file))
    }.toSet

  def partitions(path: String, s: Long, e: Long,
      allowInitialSnapshot: Boolean,
      maxSplitBytes: Long = AvroFileSource.DefaultSplitBytes)
      : Array[InputPartition] = {
    val dirF = new File(path)
    if (e <= s) return Array.empty
    val all = AvroFileSource.readSnapshots(dirF)
    // positional deletes journal per version since r16, so the feed can
    // serve them as exact row-level deltas; the only refusal left is a
    // LEGACY overlay whose arrival versions are unknowable (live
    // sidecar content differing from the last journaled state)
    require(AvroFileSource.posdelContent(dirF) ==
        all.lastOption.flatMap(_.posdels),
      "graft-avro CDC: positional deletes are pending that predate " +
        "posdel journaling (unjournaled overlay — their arrival " +
        "versions are unknowable) — compact first")
    val byV = all.map(sn => sn.version -> sn).toMap
    val firstV = all.headOption.map(_.version).getOrElse(0L)
    def snapOf(v: Long): AvroFileSource.Snapshot =
      // version 0 = the empty pre-history state, so startingVersion=1
      // replays the first commit as pure inserts. A REBASED journal
      // (expireSnapshots) lost the deltas below its first kept version
      // — serving them would fabricate history, hence the loud failure
      // (opt out via allowInitialSnapshot, handled before we get here).
      if (v == 0L) AvroFileSource.Snapshot(0L, 0L, "init", None, Nil)
      else byV.getOrElse(v, throw new IllegalStateException(
        if (v < firstV)
          s"graft-avro CDC: version $v is gone from the journal " +
            "(expireSnapshots?) — restart the stream from a version " +
            s"AFTER the first retained one (startingVersion >= " +
            s"${firstV + 1}) or from the current version, or set " +
            "allowInitialSnapshot=true to serve the first retained " +
            s"version ($firstV) as a full insert snapshot and continue"
        else
          s"graft-avro CDC: version $v is missing from the journal " +
            "(a tag-pinned expireSnapshots left a MID-journal gap) — " +
            "the deltas through the gap are gone; restart the stream " +
            "from the current version"))
    def resolve(rel: String, v: Long): String = {
      val f = AvroFileSource.resolveSnapshotFile(dirF, rel)
      require(f.isFile, s"graft-avro CDC: file $rel of version $v is " +
        "gone (vacuumed?) — the stream lagged past the retention window")
      f.getAbsolutePath
    }
    def lineSet(c: Option[String]): Set[String] =
      c.map(_.split('\n').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    /** All change partitions of one version step prev → cur: whole-file
      * inserts/deletes for the file delta, plus per-row delete/insert
      * partitions over the COMMON files when the equality-delete
      * sidecar changed (the mustMatch half of [[AvroCdcPartition]]).
      */
    def posMapOf(o: Option[String]): Map[String, Array[Long]] =
      o.map(AvroFileSource.parsePosdelContent).getOrElse(Map.empty)
    def deltaParts(v: Long, prev: AvroFileSource.Snapshot,
        cur: AvroFileSource.Snapshot): Seq[InputPartition] = {
      val prevSet = prev.files.toSet
      val curSet = cur.files.toSet
      val addedDel = (lineSet(cur.deletes) -- lineSet(prev.deletes))
        .toSeq.sorted
      val removedDel = (lineSet(prev.deletes) -- lineSet(cur.deletes))
        .toSeq.sorted
      val common = cur.files.filter(prevSet)
      // per-version positional-delete overlays: each partition carries
      // the positions hidden in ITS role's snapshot, so already-dead
      // rows never re-emit (inserts under cur's, deletes under prev's)
      val prevPos = posMapOf(prev.posdels)
      val curPos = posMapOf(cur.posdels)
      def pos(m: Map[String, Array[Long]], rel: String): Array[Long] =
        m.getOrElse(rel, Array.emptyLongArray)
      def gainedOf(rel: String): Array[Long] = {
        val p0s = pos(prevPos, rel).toSet
        pos(curPos, rel).filterNot(p0s)
      }
      def lostOf(rel: String): Array[Long] = {
        val p1s = pos(curPos, rel).toSet
        pos(prevPos, rel).filterNot(p1s)
      }
      cur.files.filterNot(prevSet).map(rel =>
        AvroCdcPartition(resolve(rel, v), "insert", v, cur.deletes,
          posdel = pos(curPos, rel)): InputPartition) ++
        prev.files.filterNot(curSet).map(rel =>
          // rows of a removed file were visible at v-1 ⇒ the PREVIOUS
          // sidecar governs which of them the feed replays as deletes
          AvroCdcPartition(resolve(rel, v), "delete", v, prev.deletes,
            posdel = pos(prevPos, rel)): InputPartition) ++
        (if (addedDel.isEmpty) Nil
        else common.map(rel =>
          // newly-hidden rows: visible under prev's sidecar AND
          // matching a NEW entry (stamp-gated per file in the reader).
          // Ordinals the SAME step position-deletes are excluded — the
          // posdel partition below is authoritative for those rows (a
          // rollback can move both sidecars in one version)
          AvroCdcPartition(resolve(rel, v), "delete", v, prev.deletes,
            Some(addedDel.mkString("\n")),
            posdel = pos(prevPos, rel),
            notPositions = gainedOf(rel)): InputPartition)) ++
        (if (removedDel.isEmpty) Nil
        else common.map(rel =>
          // re-surfacing rows (rollback): visible under cur's sidecar
          // AND previously hidden by a REMOVED entry; ordinals the same
          // step position-RESTORES are the posdel partition's
          AvroCdcPartition(resolve(rel, v), "insert", v, cur.deletes,
            Some(removedDel.mkString("\n")),
            posdel = pos(curPos, rel),
            notPositions = lostOf(rel)): InputPartition)) ++
        // positional-delete deltas over common files: gained ordinals
        // emit as `delete` rows read under prev's sidecars; lost
        // ordinals (rollback) re-surface as inserts under cur's
        common.flatMap { rel =>
          val gained = gainedOf(rel)
          val lost = lostOf(rel)
          (if (gained.isEmpty) Nil
          else Seq(AvroCdcPartition(resolve(rel, v), "delete", v,
            prev.deletes, posdel = pos(prevPos, rel),
            onlyPositions = Some(gained)): InputPartition)) ++
            (if (lost.isEmpty) Nil
            else Seq(AvroCdcPartition(resolve(rel, v), "insert", v,
              cur.deletes, posdel = pos(curPos, rel),
              onlyPositions = Some(lost)): InputPartition))
        }
    }
    (s + 1 to e).iterator.flatMap { v =>
      if (v < firstV) {
        // below the rebase horizon: reachable only when the start
        // offset predates the retained journal — these versions are
        // subsumed by the firstV full snapshot that follows
        if (!allowInitialSnapshot) snapOf(v) // throws with guidance
        Nil
      } else if (v == firstV && firstV > 1L && !byV.contains(v - 1) &&
          allowInitialSnapshot) {
        // initial snapshot: the first retained version replays as pure
        // inserts (its own sidecar applied — hidden rows never surface)
        deltaParts(v, AvroFileSource.Snapshot(v - 1, 0L, "init", None, Nil),
          snapOf(v))
      } else deltaParts(v, snapOf(v - 1), snapOf(v))
    }.flatMap {
      // a huge changed file must not pin one task: change partitions
      // byte-range split like any batch scan — absolute ordinals stay
      // exact across ranges (recordsBefore seeds each split's counter,
      // the same machinery posdel overlays and `_graft_pos` ride)
      case p: AvroCdcPartition =>
        val len = new File(p.file).length()
        if (len <= maxSplitBytes) Iterator(p: InputPartition)
        else (0L until len by maxSplitBytes).iterator.map { off =>
          p.copy(start = off,
            end = math.min(off + maxSplitBytes, len)): InputPartition
        }
      case other => Iterator(other)
    }.toArray
  }
}

/** One changed file of one journal version. `deletes` is the sidecar
  * CONTENT governing which of the file's rows were VISIBLE in this
  * partition's role (the previous version's sidecar for delete-side
  * partitions, the current version's for inserts). `mustMatch` narrows
  * a COMMON file to the rows affected by a sidecar delta: when set,
  * only rows matching at least one of its (stamp-gated) entries emit —
  * the per-row delete/undelete feed of a deleteWhere or rollback step.
  */
case class AvroCdcPartition(file: String, changeType: String,
    version: Long, deletes: Option[String],
    mustMatch: Option[String] = None,
    // ordinals hidden by this role's snapshot posdel overlay (never
    // emitted), and — for a posdel-delta partition — the ONLY ordinals
    // to emit (the gained/lost positions of this version step)
    posdel: Array[Long] = Array.emptyLongArray,
    onlyPositions: Option[Array[Long]] = None,
    // ordinals an EQUALITY-delta partition must NOT emit: when one
    // version step changes both sidecars (a rollback can), a row hit by
    // both mechanisms emits exactly once — the posdel partition is
    // authoritative for it
    notPositions: Array[Long] = Array.emptyLongArray,
    // sync-aligned byte range (a huge changed file splits like any
    // batch scan; ordinals stay absolute via the block-header seed)
    start: Long = 0L, end: Long = Long.MaxValue)
  extends InputPartition

/** Decodes a changed file through the ordinary merge-on-read row path,
  * then appends the `_change_type` / `_commit_version` constants at the
  * positions the pruned read schema asks for.
  */
case class AvroCdcReaderFactory(required: StructType, dataFull: StructType,
    births: Map[String, Long], renames: Seq[(Long, String, String)],
    root: String) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cdc = p.asInstanceOf[AvroCdcPartition]
    val dels = cdc.deletes
      .map(AvroFileSource.parseDeleteContent(_, dataFull)).getOrElse(Nil)
    val mustEntries = cdc.mustMatch
      .map(AvroFileSource.parseDeleteContent(_, dataFull)).getOrElse(Nil)
    val dataRequired0 = StructType(required.fields.filterNot(f =>
      f.name == AvroFileSource.CdcChangeType ||
        f.name == AvroFileSource.CdcCommitVersion))
    // widen the decode schema with the sidecar-delta columns when the
    // projection pruned them away (the same rule the survive-set uses
    // inside the reader) — the getters below only project `required`
    val extraCols = mustEntries.map(_.col).distinct
      .filterNot(dataRequired0.fieldNames.contains)
      .map(c => dataFull.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"graft-avro CDC: delta column '$c' missing from table schema")))
    val dataRequired1 =
      if (extraCols.isEmpty) dataRequired0
      else StructType(dataRequired0.fields ++ extraCols)
    // a posdel-delta partition needs each row's physical ordinal to
    // emit ONLY the gained/lost positions (an equality-delta one to
    // EXCLUDE them) — ride the `_graft_pos` metadata column (filled by
    // the same counter the posdel overlay uses, so the coordinates
    // agree by construction)
    val needPos = (cdc.onlyPositions.isDefined ||
        cdc.notPositions.nonEmpty) &&
      !dataRequired1.fieldNames.contains(AvroFileSource.MetaPos)
    val dataRequired =
      if (!needPos) dataRequired1
      else StructType(dataRequired1.fields :+ org.apache.spark.sql.types
        .StructField(AvroFileSource.MetaPos,
          org.apache.spark.sql.types.LongType, nullable = false))
    val inner = AvroReaderFactory(dataRequired, dataFull, deletes = dels,
      births = births, renames = renames, root = root,
      posdels =
        if (cdc.posdel.isEmpty) Map.empty
        else Map(cdc.file -> cdc.posdel))
      .createReader(AvroInputPartition(cdc.file, cdc.start, cdc.end))
    val ct = org.apache.spark.unsafe.types.UTF8String
      .fromString(cdc.changeType)
    val dataIdx = dataRequired.fieldNames.zipWithIndex.toMap
    val getters: Array[InternalRow => Any] = required.fields.map { f =>
      f.name match {
        case AvroFileSource.CdcChangeType => (_: InternalRow) => ct
        case AvroFileSource.CdcCommitVersion => (_: InternalRow) => cdc.version
        case n =>
          val i = dataIdx(n)
          val dt = f.dataType
          (r: InternalRow) => if (r.isNullAt(i)) null else r.get(i, dt)
      }
    }
    // sidecar-delta matchers: a mustMatch partition emits ONLY rows
    // hit by at least one applicable delta entry. Applicability is the
    // same stamp rule the survive-set uses: an entry stamped at-or-
    // before the file's birth never governed its rows.
    val requireMatch = cdc.mustMatch.isDefined
    val matchers: Array[InternalRow => Boolean] =
      AvroFileSource.applicableDeletes(mustEntries,
        births.getOrElse(cdc.file, 0L)).map { case (c, vs) =>
        import org.apache.spark.sql.types._
        val idx = dataRequired.fieldIndex(c)
        dataRequired(idx).dataType match {
          case StringType =>
            val set = vs.map(v => org.apache.spark.unsafe.types.UTF8String
              .fromString(v.asInstanceOf[String]))
            (r: InternalRow) => !r.isNullAt(idx) &&
              set.contains(r.getUTF8String(idx))
          case LongType =>
            val set = vs.map(_.asInstanceOf[Long])
            (r: InternalRow) => !r.isNullAt(idx) && set.contains(r.getLong(idx))
          case IntegerType =>
            val set = vs.map(_.asInstanceOf[Int])
            (r: InternalRow) => !r.isNullAt(idx) && set.contains(r.getInt(idx))
          case ShortType =>
            val set = vs.map(_.asInstanceOf[Short])
            (r: InternalRow) => !r.isNullAt(idx) && set.contains(r.getShort(idx))
          case ByteType =>
            val set = vs.map(_.asInstanceOf[Byte])
            (r: InternalRow) => !r.isNullAt(idx) && set.contains(r.getByte(idx))
          case BooleanType =>
            val set = vs.map(_.asInstanceOf[Boolean])
            (r: InternalRow) => !r.isNullAt(idx) &&
              set.contains(r.getBoolean(idx))
          case other => throw new IllegalStateException(
            s"graft-avro CDC: undeletable column type $other reached the " +
              "delta matcher")
        }
      }.toArray
    val onlySorted: Array[Long] =
      cdc.onlyPositions.map(_.sorted).getOrElse(Array.emptyLongArray)
    val notSorted: Array[Long] = cdc.notPositions.sorted
    val posIdx: Int =
      if (cdc.onlyPositions.isEmpty && cdc.notPositions.isEmpty) -1
      else dataIdx(AvroFileSource.MetaPos)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (requireMatch && matchers.isEmpty) return false
        while (inner.next()) {
          val r = inner.get()
          val posOk = posIdx < 0 || {
            val p = r.getLong(posIdx)
            (cdc.onlyPositions.isEmpty ||
              java.util.Arrays.binarySearch(onlySorted, p) >= 0) &&
              (notSorted.isEmpty ||
                java.util.Arrays.binarySearch(notSorted, p) < 0)
          }
          if (posOk && (!requireMatch || matchers.exists(_(r)))) {
            row = r; return true
          }
        }
        false
      }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          getters.map(_(row)))
      override def close(): Unit = inner.close()
    }
  }
}

/** A sync-marker-aligned byte range of one container file. The reader
  * consumes exactly the blocks whose sync position falls in
  * [start, end): `sync(start)` seeks to the first block boundary at or
  * after `start` (position 0 lands after the header), `pastSync(end)`
  * stops once the range is exhausted — so adjacent ranges partition the
  * file's blocks with no overlap and no gap (the Hadoop AvroRecordReader
  * contract). `birth` is the file's birth version where the scan's
  * reader factory carries no births map (a main batch scan: each task
  * then deserializes its own file's birth, not every planned file's).
  */
case class AvroInputPartition(file: String, start: Long, end: Long,
    birth: Long = 0L) extends InputPartition

/** A sync-aligned byte range that also carries its directory-derived
  * partition-key tuple (Catalyst-internal values) for Spark's
  * storage-partitioned join machinery: BatchScanExec groups same-key
  * splits into one task when the partitioning is exploited.
  */
case class AvroKeyedPartition(file: String, start: Long, end: Long,
    key: InternalRow, birth: Long = 0L)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

object AvroReaderFactory {
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType}

  /** Both partition shapes read as a plain byte range (the key is
    * planner metadata, not reader input).
    */
  private[sources] def range(p: InputPartition): AvroInputPartition = p match {
    case a: AvroInputPartition => a
    case k: AvroKeyedPartition =>
      AvroInputPartition(k.file, k.start, k.end, k.birth)
    case other => throw new IllegalArgumentException(s"not an avro partition: $other")
  }

  /** Resolve the READER record for `required` against a file's writer
    * record: writer fields keep their (recursively pruned) schema,
    * missing nullable fields synthesize with a null default. Under a
    * column-rename mapping, a field this (older) file spells by its
    * historical name is read through a reader-field ALIAS; a writer
    * field whose name was renamed AWAY for this file never serves a
    * same-named current column (the re-added-name case).
    */
  private[sources] def resolveReader(writer: Schema, required: StructType,
      file: String, renamedAway: Set[String] = Set.empty,
      fileNameOf: String => String = identity): Schema = {
    val fields = required.fields.map { sf =>
      val hist = fileNameOf(sf.name)
      val (wf, aliasOf) =
        if (hist != sf.name) {
          val h = writer.getField(hist)
          // the file may already carry the current name (birth-version
          // boundary cases resolve in favor of what the file really has)
          if (h != null) (h, Some(hist))
          else (writer.getField(sf.name), None)
        } else if (renamedAway.contains(sf.name)) (null, None)
        else (writer.getField(sf.name), None)
      wf match {
        case null =>
          require(sf.nullable, s"column '${sf.name}' is missing from " +
            s"older file $file and is not nullable — cannot default")
          AvroFileSource.declaredDefault(sf) match {
            case Some(v) =>
              // ALTER TABLE … DEFAULT v: files lacking the column serve
              // the declared literal, not null. The synthesized union
              // must lead with the VALUE branch — Avro validates a
              // field default against the FIRST union branch only.
              val base = AvroSchemaConverter
                .toAvro(StructType(Seq(
                  sf.copy(nullable = false,
                    metadata = org.apache.spark.sql.types.Metadata.empty))),
                  writer.getName, Option(writer.getNamespace), None)
                .getFields.get(0)
              val sch = Schema.createUnion(base.schema,
                Schema.create(Schema.Type.NULL))
              new Schema.Field(sf.name, sch, null, v)
            case None =>
              val synth = AvroSchemaConverter
                .toAvro(StructType(Seq(sf)), writer.getName,
                  Option(writer.getNamespace), None)
                .getFields.get(0)
              new Schema.Field(synth.name, synth.schema, synth.doc,
                Schema.Field.NULL_DEFAULT_VALUE)
          }
        case wf =>
          val f = new Schema.Field(sf.name,
            pruneTo(wf.schema, sf.dataType, file), wf.doc, wf.defaultVal)
          aliasOf.foreach(f.addAlias)
          f
      }
    }
    // A renamed-away writer field whose OLD name collides with a
    // required (re-added) column must not resolve into it by name.
    // Avro aliases cannot say "don't match" — so a SHADOW reader field
    // captures the writer field via an alias under a throwaway name,
    // leaving the real reader field to its null default. Only needed
    // when the alias consumer (the renamed column) is pruned out of
    // this projection; decoderFor ignores fields it wasn't asked for.
    val names = required.fieldNames.toSet
    val consumed = fields.flatMap(_.aliases().asScala).toSet
    val shadows = renamedAway.toSeq.sorted
      .filter(rn => names.contains(rn) && !consumed.contains(rn))
      .flatMap(rn => Option(writer.getField(rn)).map { wf =>
        val f = new Schema.Field("__graft_shadow_" + rn, wf.schema, null)
        f.addAlias(rn)
        f
      })
    val s = Schema.createRecord(writer.getName, writer.getDoc,
      writer.getNamespace, false)
    s.setFields(java.util.Arrays.asList((fields ++ shadows): _*))
    s
  }

  /** Narrow a writer field schema to the catalyst type actually read:
    * records recurse (keeping name identity for Avro resolution),
    * containers recurse into elements/values, everything else passes
    * through unchanged (promotions finish at decode).
    */
  private def pruneTo(ws: Schema, dt: DataType, file: String): Schema =
    (ws.getType, dt) match {
      // TAGGED multi-branch union against its carrier struct: each
      // branch prunes against its OWN branch field's type, never the
      // carrier (a record branch pruned against {tag, …} would
      // mis-resolve); unknown branch names pass through unchanged
      case (Schema.Type.UNION, st: StructType)
          if graft.avro.AvroSchemaConverter.unionBranches(ws)
            ._1.length >= 2 &&
            st.fieldNames.contains(
              graft.avro.AvroSchemaConverter.UnionTagField) =>
        Schema.createUnion(ws.getTypes.asScala.map {
          case n if n.getType == Schema.Type.NULL => n
          case b =>
            val name = graft.avro.AvroSchemaConverter.branchName(b)
            val fi = st.fieldNames.indexOf(name)
            if (fi < 0) b else pruneTo(b, st.fields(fi).dataType, file)
        }.asJava)
      case (Schema.Type.UNION, _) =>
        // preserve the writer's branch ORDER: Avro validates a field
        // default against the FIRST branch, so rebuilding [T, null] as
        // [null, T] would make any non-null default invalid
        Schema.createUnion(ws.getTypes.asScala.map {
          case n if n.getType == Schema.Type.NULL => n
          case t => pruneTo(t, dt, file)
        }.asJava)
      case (Schema.Type.RECORD, st: StructType) =>
        resolveReader(ws, st, file)
      case (Schema.Type.ARRAY, ArrayType(et, _)) =>
        Schema.createArray(pruneTo(ws.getElementType, et, file))
      case (Schema.Type.MAP, MapType(_, vt, _)) =>
        Schema.createMap(pruneTo(ws.getValueType, vt, file))
      case _ => ws
    }
}

case class AvroReaderFactory(required: StructType, full: StructType,
    filters: Array[Filter] = Array.empty, limit: Option[Int] = None,
    deletes: Seq[AvroFileSource.DeleteEntry] = Nil,
    births: Map[String, Long] = Map.empty,
    renames: Seq[(Long, String, String)] = Nil,
    posdels: Map[String, Array[Long]] = Map.empty,
    root: String = "", columnarBatch: Int = 0)
  extends PartitionReaderFactory {

  import org.apache.spark.sql.types._

  /** Columnar (vectorized) decode: flat primitive-leaf projections
    * batch straight into [[OnHeapColumnVector]]s, feeding whole-stage
    * codegen's columnar scan path (the codegen'd ColumnarToRow reads
    * vector slots directly — far cheaper per row than boxed
    * GenericInternalRow field access). Merge-on-read state decodes
    * columnar too since r16: equality deletes evaluate against the
    * freshly-decoded vector slot (the delete column is widened into the
    * decode schema when pruned away, exactly like the row path) and
    * positional deletes check the absolute ordinal — a dead row's slot
    * is scrubbed and re-decoded over, so batches stay dense. Row
    * fallback remains for nested/array/map/union projections, metadata
    * columns, and rename views. The decision is factory-level (Spark
    * requires all-or-nothing across partitions).
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnarBatch > 0 &&
      // rename views vectorize: the alias is name indirection, not a
      // type change — tier 1 translates writer names through the
      // reader-field aliases (a shadow-translated writer field compiles
      // to a typed skip), tier 2's resolver applies them natively and
      // its appenders past the vector array are pure discards — even
      // the re-added-historical-name (shadow) case stays columnar.
      required.fields.forall { f =>
        f.name != AvroFileSource.MetaFile &&
          f.name != AvroFileSource.MetaPos &&
          // judge shape against the FULL table schema: nested column
          // pruning rebuilds `required` struct fields WITHOUT their
          // metadata, so the tagged-union marker only survives on `full`
          full.fields.find(_.name == f.name).exists(vectorizableField)
      } &&
      // widened-in delete columns must be vectorizable too
      // (deletableType already restricts them to flat exact primitives)
      deletes.forall(e => full.fields.exists(f =>
        f.name == e.col && vectorizableField(f)))

  /** Field-level check: a struct FIELD that is really a multi-branch
    * Avro union (tagged via `avro.union.branches` metadata, catalyst
    * shape {tag, <branch>…}) vectorizes since r16 — both decode tiers
    * dispatch on the wire's union index and write every child slot —
    * provided each branch field is itself vectorizable (the struct
    * recursion below covers tag + branches alike).
    */
  private def vectorizableField(f: StructField): Boolean =
    f.dataType match {
      case st: StructType => st.fields.forall(vectorizableField)
      case dt => vectorizable(dt)
    }

  private def vectorizable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType | StringType | BinaryType |
         _: DecimalType => true
    // arrays of primitive elements (the embedding-column shape) decode
    // into the child vector; decimal/nested elements stay on rows
    case ArrayType(et, _) => et match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType | StringType | BinaryType => true
      case _ => false
    }
    // string-keyed maps of primitive values: keys/values children
    case MapType(StringType, vt, _) => vt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType | StringType | BinaryType => true
      case _ => false
    }
    case _ => false
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val part = AvroReaderFactory.range(partition)
    val file = new File(part.file)
    // merge-on-read on the columnar path: widen pruned-away delete
    // columns into the decode schema (row-path rule) — the batch
    // exposes only the `required` prefix
    val birth = birthOf(part)
    val fileDeletes = AvroFileSource.applicableDeletes(deletes, birth)
    val extraDelCols = fileDeletes.map(_._1).distinct
      .filterNot(c => required.fieldNames.contains(c))
      .map(c => full.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"graft-avro: delete column '$c' missing from table schema")))
    val decodeStruct =
      if (extraDelCols.isEmpty) required
      else StructType(required.fields ++ extraDelCols)
    val readerSchema = resolveFor(file, birth, decodeStruct)
    // direct block-bytes → vector decode: no GenericRecord, no boxed
    // fields, no intermediate InternalRow (see VectorAvroDatumReader).
    // Residual filters are NOT evaluated at decode here — ours are
    // always residual, so Spark re-applies every one of them on the
    // (vectorized, codegen'd) consume side; a decode-time row skip
    // would only save downstream work the columnar filter does cheaper.
    val vdr = new VectorAvroDatumReader(readerSchema, decodeStruct)
    val reader = new DataFileReader[AnyRef](file, vdr)
    if (part.start > 0) reader.sync(part.start)
    val bound = math.min(part.end, file.length())
    val cap = limit.getOrElse(Int.MaxValue)

    // per-delete-check matcher over the freshly-decoded slot: external
    // equality on the vector's internal form (delete value types are
    // restricted to exact flat primitives by deletableType)
    val delMatchers: Array[(Array[WritableColumnVector], Int) => Boolean] =
      fileDeletes.map { case (c, vs) =>
        val idx = decodeStruct.fieldIndex(c)
        decodeStruct(idx).dataType match {
          case StringType =>
            val set = vs.map(v => org.apache.spark.unsafe.types.UTF8String
              .fromString(v.asInstanceOf[String]))
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getUTF8String(n))
          case LongType =>
            val set = vs.map(_.asInstanceOf[Long])
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getLong(n))
          case IntegerType =>
            val set = vs.map(_.asInstanceOf[Int])
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getInt(n))
          case ShortType =>
            val set = vs.map(_.asInstanceOf[Short])
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getShort(n))
          case ByteType =>
            val set = vs.map(_.asInstanceOf[Byte])
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getByte(n))
          case BooleanType =>
            val set = vs.map(_.asInstanceOf[Boolean])
            (vecs: Array[WritableColumnVector], n: Int) =>
              !vecs(idx).isNullAt(n) && set.contains(vecs(idx).getBoolean(n))
          case other => throw new IllegalStateException(
            s"graft-avro: undeletable column type $other reached the " +
              "columnar delete matcher")
        }
      }.toArray

    // positional deletes: absolute ordinals, split ranges seed from the
    // block-header prefix walk (same contract as the row path)
    val posdel: Array[Long] =
      posdels.getOrElse(file.getAbsolutePath, Array.emptyLongArray)
    val ordinalBase: Long =
      if (part.start > 0L && posdel.nonEmpty)
        AvroFileSource.recordsBefore(file, part.start)
      else 0L

    val nReq = required.length
    new PartitionReader[ColumnarBatch] {
      private val vectors =
        OnHeapColumnVector.allocateColumns(columnarBatch, decodeStruct)
      private val batch = new ColumnarBatch(
        vectors.take(nReq).asInstanceOf[Array[ColumnVector]])
      private var emitted = 0
      private var exhausted = false
      private var ordinal = ordinalBase - 1L
      vdr.target(vectors.asInstanceOf[Array[WritableColumnVector]])
      override def next(): Boolean = {
        if (exhausted) return false
        var i = 0
        while (i < vectors.length) { vectors(i).reset(); i += 1 }
        var n = 0
        while (n < columnarBatch && emitted < cap &&
            reader.hasNext && !reader.pastSync(bound)) {
          vdr.row(n)
          reader.next(null)
          ordinal += 1
          val dead = (posdel.length > 0 &&
              java.util.Arrays.binarySearch(posdel, ordinal) >= 0) || {
            var k = 0; var hit = false
            while (!hit && k < delMatchers.length) {
              hit = delMatchers(k)(vectors.asInstanceOf[
                Array[WritableColumnVector]], n)
              k += 1
            }
            hit
          }
          if (dead) {
            // scrub the slot for reuse: a dead decode may have set null
            // bits the next occupant won't overwrite (values just
            // overwrite; orphaned var-length bytes are harmless).
            // Recurse into STRUCT children — their slot-indexed null
            // bits have the same staleness hazard; array/map children
            // are append-cursor-based and never reuse a slot.
            def scrub(v: WritableColumnVector): Unit = {
              v.putNotNull(n)
              v.dataType() match {
                case st: org.apache.spark.sql.types.StructType =>
                  var k = 0
                  while (k < st.length) { scrub(v.getChild(k)); k += 1 }
                case _ => ()
              }
            }
            var j = 0
            while (j < vectors.length) { scrub(vectors(j)); j += 1 }
          } else {
            n += 1
            emitted += 1
          }
        }
        batch.setNumRows(n)
        if (n == 0) { exhausted = true; false } else true
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = {
        reader.close(); batch.close()
        // the widened delete vectors live outside the batch
        var j = nReq
        while (j < vectors.length) { vectors(j).close(); j += 1 }
      }
    }
  }

  /** Shared open-a-byte-range plumbing for both decode paths: resolve
    * the pruned reader schema against the file's writer schema (with
    * the rename view for this file's birth version), seek to the sync
    * range, and build the fused GenericRecord→InternalRow decoder.
    */
  /** Resolve the pruned READER schema for `decodeSchema` against this
    * file's writer schema, applying the column-rename view for the
    * file's birth version (renames with version > birth read through
    * reader-field aliases; renamed-away names get shadow fields).
    */
  /** A partition's file birth: from the births map when the factory
    * carries one, else the partition's own.
    */
  private def birthOf(part: AvroInputPartition): Long =
    births.getOrElse(new File(part.file).getAbsolutePath, part.birth)

  private def resolveFor(file: File, birth: Long,
      decodeSchema: StructType): Schema = {
    val renamedAway: Set[String] =
      renames.collect { case (v, from, _) if birth < v => from }.toSet
    val fileNameOf: String => String = cur =>
      renames.reverseIterator.foldLeft(cur) { case (n, (v, from, to)) =>
        if (birth < v && n == to) from else n
      }
    AvroReaderFactory.resolveReader(WriterSchemas.of(file).schema,
      decodeSchema, file.toString, renamedAway, fileNameOf)
  }

  private def openRange(partition: InputPartition, decodeSchema: StructType)
      : (DataFileReader[GenericRecord], Long,
         org.apache.avro.generic.IndexedRecord => InternalRow) = {
    val part = AvroReaderFactory.range(partition)
    val file = new File(part.file)
    val readerSchema = resolveFor(file, birthOf(part), decodeSchema)
    val reader = new DataFileReader[GenericRecord](file,
      new GenericDatumReader[GenericRecord](null, readerSchema))
    if (part.start > 0) reader.sync(part.start)
    // clamp: pastSync adds SYNC_SIZE to its argument internally, so an
    // unbounded Long.MaxValue end would overflow negative and starve the
    // whole-file partition
    val bound = math.min(part.end, file.length())
    (reader, bound, AvroInternalCodec.decoderFor(readerSchema, decodeSchema))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = AvroReaderFactory.range(partition)
    val file = new File(part.file)
    // versioned merge-on-read: restrict the sidecar to entries in force
    // for THIS file's birth version (absent from the journal ⇒ birth 0 ⇒
    // every delete applies — the legacy, maximally-deleting behavior)
    val fileDeletes = AvroFileSource.applicableDeletes(deletes, birthOf(part))
    // Hidden metadata columns never decode from Avro — split them off
    // and fill per row at emit (file path once, ordinal from the
    // posdel counter, which runs regardless).
    val metaNames = Set(AvroFileSource.MetaFile, AvroFileSource.MetaPos)
    val dataRequired = StructType(
      required.fields.filterNot(f => metaNames.contains(f.name)))
    // Equality deletes must be evaluated even when the delete column is
    // pruned out of the projection: decode the union schema, apply the
    // delete check EXACTLY, and project back down before emitting.
    val extraDelCols = fileDeletes.map(_._1).distinct
      .filterNot(c => dataRequired.fieldNames.contains(c))
      .map(c => full.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"graft-avro: delete column '$c' missing from table schema")))
    val decodeSchema =
      if (extraDelCols.isEmpty) dataRequired
      else StructType(dataRequired.fields ++ extraDelCols)
    // openRange resolves the pruned READER schema against this file's
    // writer schema (schema drift: missing nullable fields synthesize
    // with null/declared defaults; renames apply via the birth-version
    // view; promotions finish at decode) and returns the fused
    // GenericRecord → InternalRow decoder — one planned pass, no
    // external Row, each decode a fresh row so no defensive copy.
    val (reader, bound, decode) = openRange(partition, decodeSchema)
    val keep = AvroFilterEval.build(decodeSchema, filters)
    val unfiltered = filters.isEmpty
    // (ordinal, deleted values) pairs against the DECODE schema; the
    // check runs on external values so numeric promotions are finished
    val delChecks = fileDeletes.map { case (c, vs) =>
      (decodeSchema.fieldIndex(c), vs)
    }
    val nReq = required.length
    // per-required-field source: -1 = file path, -2 = ordinal,
    // ≥ 0 = position in the decoded row (decodeSchema prefix order)
    val outIdx: Array[Int] = required.fields.map(_.name match {
      case AvroFileSource.MetaFile => -1
      case AvroFileSource.MetaPos => -2
      case n => dataRequired.fieldIndex(n)
    })
    val hasMeta = outIdx.exists(_ < 0)
    lazy val relPath = org.apache.spark.unsafe.types.UTF8String.fromString {
      // a snapshot file resolved from the ARCHIVE keeps its LOGICAL
      // table-relative identity: `_graft_file` coordinates must be
      // location-independent (the CDC posdel-delta reads join them
      // against sidecar rels; a travel read of an archived file must
      // report the same value the live read did)
      if (root.nonEmpty) AvroFileSource.logicalRel(new File(root), file)
      else file.getAbsoluteFile.toPath.toString
    }

    // positional deletes for THIS file; ordinals are absolute from the
    // file start, so a byte-range split seeds its counter with the
    // record count of the blocks before it (header-only prefix walk —
    // the same base serves the `_graft_pos` metadata column)
    val posdel: Array[Long] =
      posdels.getOrElse(file.getAbsolutePath, Array.emptyLongArray)
    val ordinalBase: Long =
      if (part.start > 0L && (posdel.nonEmpty || outIdx.contains(-2)))
        AvroFileSource.recordsBefore(file, part.start)
      else 0L

    val cap = limit.getOrElse(Int.MaxValue)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      private var emitted = 0
      private var ordinal = ordinalBase - 1L
      override def next(): Boolean = {
        row = null
        if (emitted >= cap) return false // pushed LIMIT: stop decoding
        // skip definitely-non-matching rows at decode time; the filter
        // evaluator sees a lazy external view (only referenced fields
        // are externalized)
        while (row == null && reader.hasNext && !reader.pastSync(bound)) {
          val r = decode(reader.next())
          ordinal += 1
          val posDeleted = posdel.length > 0 &&
            java.util.Arrays.binarySearch(posdel, ordinal) >= 0
          if (!posDeleted) {
            val view = AvroInternalCodec.externalView(r, decodeSchema)
            val deleted = delChecks.nonEmpty && delChecks.exists {
              case (i, vs) => val v = view.get(i); v != null && vs.contains(v)
            }
            if (!deleted && (unfiltered || keep(view))) row = r
          }
        }
        if (row != null) {
          emitted += 1
          if (hasMeta || extraDelCols.nonEmpty) {
            // reshape the decoded row to `required`: project the widened
            // delete columns away and fill the metadata columns
            val out = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(nReq)
            var i = 0
            while (i < nReq) {
              out.update(i, outIdx(i) match {
                case -1 => relPath
                case -2 => ordinal
                case j =>
                  if (row.isNullAt(j)) null
                  else row.get(j, dataRequired(j).dataType)
              })
              i += 1
            }
            row = out
          }
        }
        row != null
      }
      override def get(): InternalRow = row
      override def close(): Unit = reader.close()
    }
  }
}

class AvroWriteBuilder(path: String, schema: StructType,
    codec: String = AvroFileSource.DefaultCodec, partitionBy: Seq[String] = Nil,
    sortedBy: Option[String] = None, bloomFor: Seq[String] = Nil,
    ndvFor: Seq[String] = Nil, trigramFor: Seq[String] = Nil,
    branchWrite: Boolean = false,
    requestSort: Boolean = false,
    // group-based row-level ops: at commit, archive exactly the
    // table-relative files the op's scan served, and verify the delete
    // sidecars are untouched since that scan planned — evaluated
    // lazily because the scan populates it during execution
    replaceState: Option[() => AvroFileSource.RowLevelScanState] = None,
    // CHECK enforcement: ad-hoc `check` write option + the directory
    // whose `_graft_constraints` sidecar governs this write (the MAIN
    // table even for branch-overlay writes, so staged data can never
    // dodge a table constraint)
    checkOption: Option[String] = None,
    constraintsDir: Option[String] = None,
    // roll container files at ~this many on-disk bytes (staged batch
    // writes only) — bounds file sizes on huge tasks
    targetFileBytes: Option[Long] = None,
    // hidden hash-bucket partitioning: (col, N) specs routing rows to
    // `<col>_bucket=` segments (see AvroFileSource.bucketOf)
    bucketBy: Seq[(String, Int)] = Nil,
    // hidden temporal/truncate partitioning: specs routing rows to
    // `<col>_<kind>=` segments (see AvroTransforms)
    transformBy: Seq[Xform] = Nil,
    // PATH-write route to static partition overwrite (see truncate()):
    // (partition column -> external value string) equalities
    staticOverwritePartition: Option[Seq[(String, String)]] = None,
    // per-chunk bloom cells in `_graft_blockidx` (sorted writes only —
    // chunk boundaries only exist where syncs are forced): equality and
    // join-key membership pruning at CHUNK granularity
    chunkBloomFor: Seq[String] = Nil,
    // per-chunk TRIGRAM cells (r19): substring-probe pruning at CHUNK
    // granularity — contains/startsWith/endsWith with needle >= 3
    chunkTrigramFor: Seq[String] = Nil)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
  with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {

  /** Constraints compiled ONCE, driver-side, against the write schema:
    * parse → analyze over a LocalRelation of the write's attributes →
    * bind ordinals. The shipped expression is
    * `EqualNullSafe(cond, false)` — true means the row DEFINITELY
    * violates (null passes, SQL CHECK semantics). Resolution failures
    * (constraint references a column this write lacks), non-boolean or
    * non-deterministic expressions all fail the write at plan time.
    */
  private[sources] lazy val compiledChecks
      : Seq[(String, String,
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val stored = AvroFileSource.readConstraints(
      new File(constraintsDir.getOrElse(path)))
    val all = stored ++ checkOption.map(e => ("check", e)).toSeq
    if (all.isEmpty) Nil
    else {
      import org.apache.spark.sql.catalyst.expressions.{BindReferences,
        EqualNullSafe, Literal => CLit, SubqueryExpression}
      import org.apache.spark.sql.catalyst.plans.logical.{
        Filter => LFilter, LocalRelation}
      val spark = org.apache.spark.sql.SparkSession.active
      val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(schema)
      all.map { case (name, exprStr) =>
        val parsed = spark.sessionState.sqlParser.parseExpression(exprStr)
        val analyzed = spark.sessionState.analyzer
          .execute(LFilter(parsed, LocalRelation(attrs)))
        val cond = analyzed.collectFirst {
          case f: LFilter => f.condition
        }.getOrElse(throw new IllegalStateException(
          s"graft-avro constraint '$name': analysis lost the filter"))
        require(cond.resolved,
          s"graft-avro CHECK constraint '$name': cannot resolve " +
            s"'$exprStr' against columns ${schema.fieldNames.mkString(", ")}")
        require(cond.dataType == org.apache.spark.sql.types.BooleanType,
          s"graft-avro CHECK constraint '$name': '$exprStr' is not boolean")
        require(cond.deterministic &&
          !cond.exists(_.isInstanceOf[SubqueryExpression]),
          s"graft-avro CHECK constraint '$name': '$exprStr' must be " +
            "deterministic and subquery-free")
        val bound = BindReferences.bindReference(
          EqualNullSafe(cond, CLit(false,
            org.apache.spark.sql.types.BooleanType))
            : org.apache.spark.sql.catalyst.expressions.Expression,
          attrs)
        (name, exprStr, bound)
      }
    }
  }

  // `requestSort` makes the WRITE declare its layout needs to Spark
  // (RequiresDistributionAndOrdering) instead of trusting the caller to
  // pre-arrange rows — pointless without a layout to request
  require(!requestSort || sortedBy.isDefined || partitionBy.nonEmpty ||
    bucketBy.nonEmpty,
    "graft-avro: requestSort=true needs sortedBy, partitionBy and/or " +
      "bucketBy — there is no layout to request otherwise")

  bloomFor.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"bloomFor column '$c' not in schema"))
    require(AvroFileSource.bloomableType(f.dataType),
      s"bloomFor does not support ${f.dataType.simpleString} (column '$c')")
  }

  trigramFor.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"trigramFor column '$c' not in schema"))
    require(f.dataType == org.apache.spark.sql.types.StringType,
      s"trigramFor only supports string columns (column '$c' is " +
        f.dataType.simpleString + ")")
  }

  chunkBloomFor.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"chunkBloomFor column '$c' not in schema"))
    require(AvroFileSource.bloomableType(f.dataType),
      s"chunkBloomFor does not support ${f.dataType.simpleString} " +
        s"(column '$c')")
  }
  require(chunkBloomFor.isEmpty || sortedBy.isDefined,
    "graft-avro: chunkBloomFor needs sortedBy — chunk boundaries only " +
      "exist in sorted staged writes (the block-range index's forced " +
      "syncs)")

  chunkTrigramFor.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"chunkTrigramFor column '$c' not in schema"))
    require(f.dataType == org.apache.spark.sql.types.StringType,
      s"chunkTrigramFor only supports string columns (column '$c' is " +
        f.dataType.simpleString + ")")
  }
  require(chunkTrigramFor.isEmpty || sortedBy.isDefined,
    "graft-avro: chunkTrigramFor needs sortedBy — chunk boundaries " +
      "only exist in sorted staged writes (the block-range index's " +
      "forced syncs)")

  ndvFor.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"ndvFor column '$c' not in schema"))
    require(AvroFileSource.bloomableType(f.dataType),
      s"ndvFor does not support ${f.dataType.simpleString} (column '$c')")
  }

  // Bucket specs: schema membership, canonical-string-stable type (the
  // same set whose canonicalValue ≡ filter-literal key — floats and
  // timestamps are excluded for the litKey reasons; decimals join in
  // r20 via the scale-normalized plain form), a
  // positive N, no overlap with identity partitioning, and no name
  // collision between a `<col>_bucket` segment and a real column (a
  // same-named identity partition segment would be indistinguishable).
  bucketBy.foreach { case (c, n) =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"bucketBy column '$c' not in schema"))
    import org.apache.spark.sql.types._
    f.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType => ()
      case _: DecimalType => ()
      case TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"bucketBy does not support ${other.simpleString} (column '$c')")
    }
    require(n > 0, s"bucketBy '$c:$n': bucket count must be positive")
    require(!partitionBy.contains(c),
      s"bucketBy column '$c' is already an identity partition column")
    val seg = AvroFileSource.bucketSegName(c)
    require(!schema.fieldNames.contains(seg) && !partitionBy.contains(seg),
      s"bucketBy column '$c': segment name '$seg' collides with a " +
        "real column")
  }
  require(bucketBy.map(_._1).distinct.length == bucketBy.length,
    "bucketBy lists a column twice")

  // Transform specs: the bucket guard set, adapted — schema membership,
  // kind/type agreement (AvroTransforms.typeOk — the canonical-
  // stability reasoning), no overlap with identity or bucket
  // partitioning, and no segment-name collision with a real column.
  transformBy.foreach { x =>
    val f = schema.fields.find(_.name == x.col).getOrElse(
      throw new IllegalArgumentException(
        s"transformBy column '${x.col}' not in schema"))
    require(AvroTransforms.typeOk(x.kind, f.dataType),
      s"transform '${x.render}' does not support " +
        s"${f.dataType.simpleString} (column '${x.col}')")
    require(!partitionBy.contains(x.col),
      s"transformBy column '${x.col}' is already an identity partition " +
        "column")
    require(!bucketBy.exists(_._1 == x.col),
      s"transformBy column '${x.col}' is already bucket-partitioned")
    val seg = x.segName
    require(!schema.fieldNames.contains(seg) && !partitionBy.contains(seg),
      s"transformBy column '${x.col}': segment name '$seg' collides " +
        "with a real column")
  }
  require(transformBy.map(_.col).distinct.length == transformBy.length,
    "transformBy lists a column twice")

  // RETIRED names (ALTER TABLE DROP COLUMN) may never be written again:
  // name-based resolution would resurrect the old files' same-named
  // bytes into the "new" column. Checked at plan time, driver-side —
  // against the MAIN table's journal even for branch-overlay staging
  // (constraintsDir points there), so staged data cannot dodge it.
  {
    val retired = AvroFileSource.retiredColumns(
      new File(constraintsDir.getOrElse(path)))
    // nested drops retire DOTTED paths — check every struct path the
    // write schema carries, not just the top level
    val clash = AvroFileSource.allStructPaths(schema).filter(retired.contains)
    require(clash.isEmpty,
      s"graft-avro: column name(s) ${clash.mkString(", ")} were dropped " +
        "from this table and are retired — pick a new name (name-based " +
        "resolution would resurrect pre-drop file data)")
  }

  private var doTruncate = false
  // dynamic partition overwrite: replace exactly the partition dirs the
  // staged files land in
  private var doDynamic = false
  // static partition overwrite: (partition column -> external value)
  // equalities; live files matching ALL of them archive at commit
  private var overwriteParts: Option[Seq[(String, String)]] = None

  // the sortedBy claim is VERIFIED while writing, which needs a total
  // order on each column's values (AvroWriters.sortCmp) — reject the
  // rest up front. `sortedBy=c1,c2` claims LEXICOGRAPHIC order on the
  // tuple.
  private val sortColsList: Seq[String] =
    sortedBy.toSeq.flatMap(AvroFileSource.sortCols)
  require(sortColsList.distinct.length == sortColsList.length,
    s"sortedBy lists a column twice: ${sortColsList.mkString(",")}")
  sortColsList.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"sortedBy column '$c' not in schema"))
    if (AvroWriters.sortCmp(f.dataType).isEmpty)
      throw new IllegalArgumentException(
        s"sortedBy does not support ${f.dataType.simpleString} (column '$c')")
  }

  override def truncate(): WriteBuilder = {
    // append-only staging overlay: an overwrite would make publish a
    // rewrite instead of a pure file move — refuse loudly
    if (branchWrite) throw new IllegalArgumentException(
      "graft-avro: branches are append-only (write-audit-publish " +
        "staging); publish or drop the branch instead of overwriting it")
    // `overwritePartition=col<TAB>value`: a PATH write cannot reach the
    // SupportsOverwriteV2 predicate surface (that's the catalog INSERT
    // OVERWRITE PARTITION route), so this option narrows a
    // mode("overwrite") save to the STATIC single-partition semantics —
    // the partition-scoped rewrite AvroMaintenance.compactPartition runs
    staticOverwritePartition match {
      case Some(eqs) => overwriteParts = Some(eqs)
      case None => doTruncate = true
    }
    this
  }

  /** Dynamic partition overwrite (`INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`): at commit,
    * live files in exactly the partition directories the staged files
    * landed in are archived — untouched partitions survive. The daily
    * partition-rewrite shape: at 100 TB you replace one day, never the
    * table. On an unpartitioned table the "partition dir" is the root,
    * which degrades to truncate semantics by construction.
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (branchWrite) throw new IllegalArgumentException(
      "graft-avro: branches are append-only (write-audit-publish " +
        "staging); publish or drop the branch instead of overwriting it")
    doDynamic = true; this
  }

  /** Static filter overwrite (`INSERT OVERWRITE ... PARTITION (p='x')`
    * and `DataFrameWriterV2.overwrite(cond)`): supported exactly when
    * every predicate is an equality on a partition column with a
    * losslessly-stringable literal — then a file-level archive IS the
    * row-level delete (partition values are constant per file). An
    * always-true predicate is a truncate. Anything else refuses: a
    * non-partition predicate would need a row rewrite, which is the
    * DELETE/MERGE path's job.
    */
  override def overwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : WriteBuilder = {
    import org.apache.spark.sql.connector.expressions.
      {Expression => VExpr, Literal => VLit, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.
      {Predicate => VPred}
    if (predicates.forall(_.name() == "ALWAYS_TRUE")) return truncate()
    if (branchWrite) throw new IllegalArgumentException(
      "graft-avro: branches are append-only (write-audit-publish " +
        "staging); publish or drop the branch instead of overwriting it")
    // (partition column, external value) of a losslessly-stringable
    // NON-NULL literal — the only shapes a dir segment can decide
    def litStr(e: VExpr): Option[String] = e match {
      case l: VLit[_] => l.value() match {
        case null => None
        case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
        case i: java.lang.Integer => Some(i.toString)
        case i: java.lang.Long => Some(i.toString)
        case i: java.lang.Short => Some(i.toString)
        case i: java.lang.Byte => Some(i.toString)
        case b: java.lang.Boolean => Some(b.toString)
        case _ => None // dates/floats: internal form != dir segment
      }
      case _ => None
    }
    def refName(e: VExpr): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 &&
          partitionBy.contains(r.fieldNames()(0)) =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    // Spark's static PARTITION clause arrives as the null-safe
    // expansion `(p IS NOT NULL AND lit IS NOT NULL AND p = lit) OR
    // (p IS NULL AND lit IS NULL)`: with a non-null literal the OR's
    // null branch is constant-false and the IS NOT NULLs are implied
    // by the equality — simplify accordingly.
    def constFalse(p: VPred): Boolean = p.name() match {
      case "IS_NULL" => litStr(p.children()(0)).isDefined
      case "AND" => p.children().exists {
        case q: VPred => constFalse(q)
        case _ => false
      }
      case _ => false
    }
    def extract(p: VPred): Option[(String, String)] = p.name() match {
      case "=" | "<=>" => p.children() match {
        case Array(r, l) =>
          for { c <- refName(r); v <- litStr(l) } yield (c, v)
        case _ => None
      }
      case "OR" => p.children().toSeq match {
        case Seq(a: VPred, b: VPred) =>
          if (constFalse(b)) extract(a)
          else if (constFalse(a)) extract(b)
          else None
        case _ => None
      }
      case "AND" =>
        val kids = p.children().toSeq.collect { case q: VPred => q }
        if (kids.length != p.children().length) return None
        // drop constant-true conjuncts (IS NOT NULL over the literal)
        val rest = kids.filterNot(q =>
          q.name() == "IS_NOT_NULL" && litStr(q.children()(0)).isDefined)
        val eqs = rest.flatMap(extract)
        val others = rest.filter(q => extract(q).isEmpty)
        // exactly one equality; the rest must be IS NOT NULL on ITS ref
        // (implied by the equality)
        if (eqs.length == 1 && others.forall(q =>
            q.name() == "IS_NOT_NULL" &&
              refName(q.children()(0)).contains(eqs.head._1)))
          Some(eqs.head)
        else None
      case _ => None
    }
    val eqs = predicates.toSeq.map { p =>
      extract(p).getOrElse(throw new UnsupportedOperationException(
        "graft-avro: overwrite-by-filter supports only equality on a " +
          s"partition column (string/integral/boolean), got $p — use " +
          "DELETE/MERGE for row-level conditions"))
    }
    overwriteParts = Some(eqs)
    this
  }

  override def build(): Write = new Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution,
      Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions,
      NullOrdering, SortDirection, SortOrder => VSortOrder}

    /** Declared write layout (Iceberg's write-distribution pattern): with
      * `requestSort`, Spark itself inserts the exchange + sort this sink
      * needs — clustered on the partition columns when partitioned (each
      * hive dir written by one task: no small-file fan-out), RANGE-
      * partitioned on the sort column otherwise (globally sorted,
      * non-overlapping files — the zone-pruning optimum). The in-task
      * ordering below then makes the verified `sortedBy` claim succeed
      * WITHOUT the caller pre-sorting; ascending nulls-first matches
      * OrderVerifier exactly. Without `requestSort` both answers are
      * no-ops (unspecified + empty) and the plan is untouched.
      */
    override def requiredDistribution(): Distribution =
      if (!requestSort) Distributions.unspecified()
      else if (partitionBy.nonEmpty || bucketBy.nonEmpty)
        // identity columns + bucket TRANSFORMS: Spark clusters rows by
        // the bucket ordinal itself, so each task owns whole buckets
        // and the job lands ~N files per identity partition instead of
        // tasks × N. The bucket transform resolves through the table's
        // FunctionCatalog — CATALOG writes only (a path write with
        // requestSort + bucketBy fails at analysis; repartition by
        // graft_bucket(col, n) by hand there).
        Distributions.clustered(
          (partitionBy.map(Expressions.column(_): org.apache.spark.sql
            .connector.expressions.Expression) ++
            bucketBy.map { case (c, n) => Expressions.bucket(n, c)
              : org.apache.spark.sql.connector.expressions.Expression })
            .toArray)
      else Distributions.ordered(sortOrders)

    override def requiredOrdering(): Array[VSortOrder] =
      if (!requestSort) Array.empty else sortOrders

    private def sortOrders: Array[VSortOrder] =
      (partitionBy ++ sortColsList.filterNot(partitionBy.contains)).map { c =>
        Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
      }.toArray
    /** Transactional batch write (the FileFormatWriter commit-protocol
      * shape): tasks write to `*.staging` names — invisible to readers,
      * which list only `*.avro` — and report (staged, final) pairs in
      * their [[AvroCommitMessage]]. The job-level commit() deletes the
      * old files (truncate mode) and renames staged → final, so a failed
      * or aborted job leaves the previous dataset fully intact and at
      * worst some orphaned `.staging` litter; a task attempt killed
      * before abort() leaves a truncated `.staging` file no reader ever
      * opens. Renames are same-directory (staged files live beside their
      * final name, including inside partition dirs) → atomic on POSIX.
      */
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        new File(path).mkdirs()
        val base = AvroWriterFactory(path, schema, codec, partitionBy,
          staged = true, sortedBy = sortedBy, bloomFor = bloomFor,
          ndvFor = ndvFor, trigramFor = trigramFor,
          targetFileBytes = targetFileBytes, bucketBy = bucketBy,
          transformBy = transformBy, chunkBloomFor = chunkBloomFor,
          chunkTrigramFor = chunkTrigramFor)
        if (compiledChecks.isEmpty) base
        else CheckedWriterFactory(base, compiledChecks)
      }
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        AvroFileSource.withCommitLock(new File(path)) {
          commitImpl(messages)
        }

      private def commitImpl(messages: Array[WriterCommitMessage]): Unit = {
        val commitMsgs =
          messages.toSeq.collect { case m: AvroCommitMessage => m }
        val staged = commitMsgs.flatMap(_.files)
        // bucket-spec agreement BEFORE anything publishes (the merge at
        // the end re-checks under the same lock; this makes a conflict
        // leave zero litter)
        if (!doTruncate && transformBy.nonEmpty) {
          val prior = AvroTransforms.read(new File(path))
            .map(x => x.col -> x).toMap
          transformBy.foreach { x =>
            prior.get(x.col).foreach(px => require(px == x,
              s"graft-avro: transform '${x.render}' conflicts with the " +
                s"table's established spec '${px.render}'"))
          }
        }
        if (!doTruncate && bucketBy.nonEmpty) {
          val prior = AvroFileSource.readBucketSpec(new File(path)).toMap
          bucketBy.foreach { case (c, n) =>
            prior.get(c).foreach(pn => require(pn == n,
              s"graft-avro: bucketBy '$c:$n' conflicts with the " +
                s"table's established spec '$c:$pn' — a column's " +
                "bucket count is immutable (truncate to re-bucket)"))
          }
        }
        // ROW-LEVEL CONFLICT CHECK — before ANYTHING publishes: every
        // file this operation's scan served must still be live. A
        // concurrent row-level op that committed first archived its
        // scan set; discovering that AFTER the staged renames would
        // leave this loser's files published next to the winner's —
        // rows duplicated by a "failed" job (CommitLockSpec pins this).
        // Under the table commit lock the check-then-archive is atomic
        // vs every other commit.
        val replaceSet: Option[Set[String]] =
          replaceState.map(_()).map { st =>
            val gone = st.rels.filterNot(rel => new File(path, rel).isFile)
            if (gone.nonEmpty) throw new IllegalStateException(
              "graft-avro row-level commit: concurrent update conflict — " +
                s"replaced file(s) ${gone.mkString(", ")} were rewritten " +
                "by another commit; nothing was published, retry the " +
                "operation against the current state")
            // and the DELETE sidecars must be exactly as the scan saw
            // them: a deleteWhere/deleteAtPositions that landed since
            // would silently stop applying to the rewritten rows (their
            // birth versions postdate the delete's stamp; positional
            // entries of replaced files drop at this commit) — a lost
            // delete, the same anomaly family as the liveness check
            st.deleteFp.foreach { fp =>
              val now =
                AvroFileSource.deleteStateFingerprint(new File(path))
              if (now != fp) throw new IllegalStateException(
                "graft-avro row-level commit: concurrent delete " +
                  "conflict — the table's delete sidecars changed " +
                  "since this operation's scan planned; nothing was " +
                  "published, retry the operation against the current " +
                  "state")
            }
            st.rels
          }
        // publish BEFORE deleting: if a rename fails mid-commit the
        // previous dataset is still on disk (plus some new files — the
        // job reports failure either way); deleting first would leave
        // NEITHER dataset on a failed overwrite
        staged.foreach { case (tmp, fin) =>
          val t = new File(tmp)
          if (!t.renameTo(new File(fin)))
            throw new java.io.IOException(
              s"graft-avro commit: rename failed $tmp -> $fin")
        }
        // ONE directory walk per commit, taken after publish: every file
        // in it that this commit did not stage was there before it, and
        // minus what the branches below archive it is the live set the
        // zone filter, the stats fold and the journal append all use
        val fresh = staged.map { case (_, fin) =>
          new File(fin).getAbsolutePath }.toSet
        val published = AvroFileSource.listAvro(new File(path))
        val preExisting = !doTruncate &&
          published.exists(f => !fresh.contains(f.getAbsolutePath))
        val archived = scala.collection.mutable.HashSet.empty[String]
        if (doTruncate) {
          // replaced files are ARCHIVED, not deleted: earlier snapshot
          // versions still reference them (time travel); the relative
          // layout is preserved so partition values keep parsing.
          // expireSnapshots is the explicit vacuum.
          val dirF = new File(path)
          val base = dirF.getAbsoluteFile.toPath
          published
            .filterNot(f => fresh.contains(f.getAbsolutePath)).foreach { f =>
              val rel = base.relativize(f.getAbsoluteFile.toPath).toString
              val dst = new File(AvroFileSource.archiveDir(dirF), rel)
              dst.getParentFile.mkdirs()
              if (dst.exists()) throw new java.io.IOException(
                s"graft-avro commit: archive collision $dst")
              if (!f.renameTo(dst)) throw new java.io.IOException(
                s"graft-avro commit: archive move failed $f -> $dst")
              AvroFileSource.stampArchived(dst)
              archived += f.getAbsolutePath
            }
          // an overwrite defines a new dataset: stale equality AND
          // positional deletes must not apply to the replacement rows
          AvroFileSource.deleteFile(new File(path)).delete()
          AvroFileSource.posdelFile(new File(path)).delete()
        } else if (doDynamic || overwriteParts.nonEmpty) {
          // PARTIAL overwrite: archive exactly the replaced partitions'
          // live files; untouched partitions (and the stamped equality
          // sidecar, whose version gates keep it off the new files'
          // later births) survive. Positional deletes of archived files
          // drop with them, like the row-level replace path.
          val dirF = new File(path)
          val base = dirF.getAbsoluteFile.toPath
          def relOf(f: File): String =
            base.relativize(f.getAbsoluteFile.toPath).toString
          // a LEGACY unstamped delete entry applies to every file — it
          // would keep deleting from the replacement rows too
          val delF = AvroFileSource.deleteFile(dirF)
          if (delF.isFile &&
              AvroFileSource.readDeletesRaw(delF).exists(_.stamp.isEmpty))
            throw new IllegalStateException(
              "graft-avro: partial overwrite under legacy unstamped " +
                "equality deletes would re-delete replacement rows — " +
                "compact first")
          val freshDirs: Set[String] = staged.map { case (_, fin) =>
            val rel = base.relativize(
              new File(fin).getAbsoluteFile.toPath).toString
            rel.lastIndexOf('/') match {
              case -1 => ""
              case i => rel.take(i)
            }
          }.toSet
          val victims = published
            .filterNot(f => fresh.contains(f.getAbsolutePath))
            .filter { f =>
              val rel = relOf(f)
              if (doDynamic) {
                val dir = rel.lastIndexOf('/') match {
                  case -1 => ""
                  case i => rel.take(i)
                }
                freshDirs.contains(dir)
              } else overwriteParts.get.forall { case (c, v) =>
                AvroFileSource.partValsOfRel(rel).get(c) match {
                  case Some(raw) => raw != "__null__" &&
                    java.net.URLDecoder.decode(raw, "UTF-8") == v
                  case None => throw new IllegalStateException(
                    s"graft-avro: live file $rel lacks partition " +
                      s"segment '$c' (partition evolution) — static " +
                      "partition overwrite needs every live file " +
                      "decided; compact or use dynamic mode")
                }
              }
            }
          victims.foreach { f =>
            val rel = relOf(f)
            val dst = new File(AvroFileSource.archiveDir(dirF), rel)
            dst.getParentFile.mkdirs()
            if (dst.exists()) throw new java.io.IOException(
              s"graft-avro commit: archive collision $dst")
            if (!f.renameTo(dst)) throw new java.io.IOException(
              s"graft-avro commit: archive move failed $f -> $dst")
            AvroFileSource.stampArchived(dst)
            archived += f.getAbsolutePath
          }
          val pd = AvroFileSource.readPosdel(dirF)
          if (pd.nonEmpty)
            AvroFileSource.writePosdelSidecar(dirF,
              pd -- victims.map(relOf))
        }
        replaceSet.foreach { rels =>
          // group-based row-level op: archive EXACTLY the files the
          // operation's scan served (their contents were rewritten into
          // the staged files); untouched files — and the table-wide
          // equality-delete sidecar, whose version stamps keep it off
          // the new files — stay as they are. Positional deletes of the
          // replaced files drop with them. (Liveness was verified above,
          // BEFORE publish, under the commit lock.)
          val dirF = new File(path)
          rels.toSeq.sorted.foreach { rel =>
            val f = new File(dirF, rel)
            if (!f.isFile) throw new java.io.IOException(
              s"graft-avro row-level commit: replaced file vanished $f")
            val dst = new File(AvroFileSource.archiveDir(dirF), rel)
            dst.getParentFile.mkdirs()
            if (dst.exists()) throw new java.io.IOException(
              s"graft-avro row-level commit: archive collision $dst")
            if (!f.renameTo(dst)) throw new java.io.IOException(
              s"graft-avro row-level commit: archive move failed $f -> $dst")
            AvroFileSource.stampArchived(dst)
            archived += f.getAbsolutePath
          }
          val pd = AvroFileSource.readPosdel(dirF)
          if (pd.nonEmpty)
            AvroFileSource.writePosdelSidecar(dirF, pd -- rels)
        }
        // Sorted-layout marker lifecycle. The marker claims EVERY file in
        // the directory is internally sorted by that column: a verified
        // sortedBy write stamps it when it defines the dataset (truncate
        // or first files) or agrees with the existing claim; any other
        // append of new files withdraws the claim.
        val base = new File(path).getAbsoluteFile.toPath
        val aliveRels = published
          .filterNot(f => archived.contains(f.getAbsolutePath))
          .map(f => base.relativize(f.getAbsoluteFile.toPath).toString)
        val marker = AvroFileSource.sortMarker(new File(path))
        sortedBy match {
          case Some(_) =>
            // agreement is on the FULL spec: an append claiming a
            // different column list (even a prefix/extension of the
            // established one) withdraws the claim — its files were
            // only verified under ITS tuple
            val prev = AvroFileSource.sortedColumnsOf(new File(path))
            if (!preExisting || prev == sortColsList)
              java.nio.file.Files.write(marker.toPath,
                sortColsList.mkString(",").getBytes("UTF-8"))
            else marker.delete()
          case None => if (staged.nonEmpty) marker.delete()
        }
        // bucket-spec sidecar: a truncate installs this write's spec
        // wholesale (the old files are gone); anything else merges —
        // agreeing or fresh columns extend the spec, a conflicting N
        // fails loudly BEFORE the journal entry (the staged files are
        // published but unjournaled: remove_orphans reclaims them)
        AvroFileSource.mergeBucketSpec(new File(path), bucketBy,
          replace = doTruncate)
        AvroTransforms.merge(new File(path), transformBy,
          replace = doTruncate)
        // the other per-file stats sidecars: shared fold with the
        // streaming and delta row-level commits
        AvroFileSource.foldStatsManifests(new File(path), commitMsgs,
          aliveHint = Some(aliveRels.toSet))
        // snapshot LAST: the journal records the fully-published state
        AvroFileSource.appendSnapshot(new File(path),
          if (doTruncate || doDynamic || overwriteParts.nonEmpty)
            "overwrite"
          else "append",
          liveHint = Some(aliveRels))
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        messages.toSeq.collect { case m: AvroCommitMessage => m.files }
          .flatten.foreach { case (tmp, _) => new File(tmp).delete() }
    }

    /** Streaming sink: one container file per (epoch, partition). The
      * file name is a pure function of those two — a retried task
      * rewrites the SAME file (create truncates), so replays are
      * idempotent. Files are created lazily on the first row: idle
      * epochs leave no empty-file litter for a downstream streaming
      * reader's registry to churn through.
      */
    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = {
        new File(path).mkdirs()
        val base = AvroStreamingWriterFactory(path, schema, codec,
          partitionBy, bucketBy = bucketBy, transformBy = transformBy,
          targetFileBytes = targetFileBytes,
          bloomFor = bloomFor, ndvFor = ndvFor, trigramFor = trigramFor)
        if (compiledChecks.isEmpty) base
        else CheckedStreamingWriterFactory(base, compiledChecks)
      }
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        AvroFileSource.withCommitLock(new File(path)) {
          // exactly-once straggler sweep: a failed earlier task attempt
          // may have left THIS epoch's files the committed attempt did
          // not reproduce (rolling retry with fewer/other segments, or a
          // crash that skipped abort()'s cleanup). Delete every
          // part-e<epoch>-* file not named in a task commit message
          // BEFORE appendSnapshot's directory walk journals it.
          val committed = messages.toSeq
            .collect { case m: AvroCommitMessage => m.streamed }
            .flatten.map(p => new File(p).getAbsolutePath).toSet
          val prefix = f"part-e$epochId%06d-"
          // ONE walk per epoch (r21): the sweep listing, minus what it
          // deletes, feeds the stats fold and the journal append below
          val listing = AvroFileSource.listAvro(new File(path))
          val (stragglers, survivors) = listing.partition(f =>
            f.getName.startsWith(prefix) &&
              !committed.contains(f.getAbsolutePath))
          stragglers.foreach { f => f.delete(); () }
          val baseP = new File(path).getAbsoluteFile.toPath
          val aliveRels = survivors
            .map(f => baseP.relativize(f.getAbsoluteFile.toPath).toString)
          // streamed epochs append unverified files: withdraw any
          // sorted-layout claim the directory carried
          AvroFileSource.sortMarker(new File(path)).delete()
          // streamed bucketed epochs extend/agree the bucket spec like
          // any append (a conflicting N fails the epoch)
          AvroFileSource.mergeBucketSpec(new File(path), bucketBy,
            replace = false)
          AvroTransforms.merge(new File(path), transformBy,
            replace = false)
          // pruning/stat manifests fold per epoch since r17 (after the
          // straggler sweep, so the alive-filter sees the final file
          // set) — streamed tables keep their stats sidecars' coverage,
          // enabling metadata COUNT and file pruning
          AvroFileSource.foldStatsManifests(new File(path),
            messages.toSeq.collect { case m: AvroCommitMessage => m },
            aliveHint = Some(aliveRels.toSet))
          // idle epochs no-op inside appendSnapshot (state unchanged)
          AvroFileSource.appendSnapshot(new File(path), s"epoch-$epochId",
            liveHint = Some(aliveRels))
        }
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

/** (stagedPath, finalPath) pairs a task's writer produced; the batch
  * commit renames them into place. Empty for streaming writers (their
  * epoch-deterministic names are already idempotent under replay). The
  * other fields carry each written file's stats entries, keyed by final
  * path, for the job commit's [[StatsManifests]] fold.
  */
case class AvroCommitMessage(files: Seq[(String, String)],
    colZones: Seq[(String, Seq[(String, String, String, String)])] = Nil,
    blooms: Seq[(String, Seq[(String, String, String)])] = Nil,
    rows: Seq[(String, Long)] = Nil,
    ndvs: Seq[(String, Seq[(String, String, String)])] = Nil,
    // final paths an UNSTAGED (streaming) task published this epoch —
    // the epoch commit uses these to delete stale same-epoch files a
    // failed earlier attempt left behind (a retry that rolls FEWER
    // segments must not let appendSnapshot journal its predecessor's
    // higher-seq leftovers)
    streamed: Seq[String] = Nil,
    // block-range zone index of a sorted staged write: per final path,
    // one line per (column, chunk) — (colEnc, dt, rangeStart, rangeEnd,
    // minEnc|-, maxEnc|-), the sidecar's own shape — covering EVERY
    // column of the (possibly compound) sort spec
    blockIdx: Seq[(String,
      Seq[(String, String, Long, Long, String, String)])] = Nil)
  extends WriterCommitMessage

/** Per-task result of a delta (merge-on-read) row-level write: the
  * positions this task deleted, keyed by table-relative file, plus the
  * normal staged-file message of its inserts (if any).
  */
case class AvroDeltaCommitMessage(deletes: Map[String, Array[Long]],
    inner: Option[AvroCommitMessage]) extends WriterCommitMessage

/** Delta (merge-on-read) row-level write ([[SupportsDelta]]): DELETE
  * rows arrive as `(_graft_file, _graft_pos)` ids and fold into the
  * `_graft_posdel` sidecar — O(deleted rows) metadata, untouched data
  * files; UPDATE/MERGE (represented as delete+insert) additionally
  * append their replacement rows as ordinary staged files. The commit,
  * under the table lock: verifies every position-deleted file is still
  * live (a concurrent copy-on-write rewrite archiving it would orphan
  * the positions — loud snapshot-isolation conflict instead), verifies
  * the delete sidecars are unchanged since the write planned when the
  * op carries inserts (a delete landing mid-update would silently miss
  * the re-inserted rows), publishes staged inserts, withdraws the
  * sorted-layout claim (an unsorted append like any other), folds the
  * pruning/stat manifests, merges the position sidecar, and journals a
  * snapshot when files changed. Pure position deletes stay unjournaled,
  * exactly like [[AvroMaintenance.deleteAtPositions]].
  */
class AvroDeltaWriteBuilder(path: String, info: LogicalWriteInfo,
    partitionBy: Seq[String] = Nil,
    codec: String = AvroFileSource.DefaultCodec)
  extends org.apache.spark.sql.connector.write.DeltaWriteBuilder {

  override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
    new org.apache.spark.sql.connector.write.DeltaWrite {
      // delete-sidecar state pinned when the write plans: the commit
      // re-reads and fails loudly if a concurrent equality/positional
      // delete landed while an UPDATE/MERGE was computing its inserts
      private val deleteFpAtPlan =
        AvroFileSource.deleteStateFingerprint(new File(path))

      override def toBatch: org.apache.spark.sql.connector.write
          .DeltaBatchWrite =
        new org.apache.spark.sql.connector.write.DeltaBatchWrite {
          override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
              : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
            new File(path).mkdirs()
            val rowIdSchema = {
              val o = info.rowIdSchema()
              require(o.isPresent,
                "graft-avro delta write: no rowId schema on the write info")
              o.get()
            }
            // CHECK constraints guard the INSERT side exactly like a
            // plain write (reuse the driver-side compile)
            val checks = new AvroWriteBuilder(path, info.schema(),
              partitionBy = partitionBy).compiledChecks
            AvroDeltaWriterFactory(path, info.schema(), rowIdSchema,
              codec, partitionBy, checks)
          }

          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val dirF = new File(path)
            AvroFileSource.withCommitLock(dirF) {
              val msgs = messages.toSeq
                .collect { case m: AvroDeltaCommitMessage => m }
              val dels: Map[String, Array[Long]] =
                msgs.flatMap(_.deletes.toSeq).groupBy(_._1).map {
                  case (rel, xs) =>
                    rel -> xs.flatMap(_._2).distinct.sorted.toArray
                }
              val innerMsgs = msgs.flatMap(_.inner)
              val staged = innerMsgs.flatMap(_.files)
              // conflict checks BEFORE anything publishes
              val gone = dels.keySet
                .filterNot(rel => new File(dirF, rel).isFile)
              if (gone.nonEmpty) throw new IllegalStateException(
                "graft-avro delta commit: concurrent update conflict — " +
                  s"position-deleted file(s) ${gone.mkString(", ")} were " +
                  "rewritten by another commit; nothing was published, " +
                  "retry the operation against the current state")
              if (staged.nonEmpty &&
                  AvroFileSource.deleteStateFingerprint(dirF) !=
                    deleteFpAtPlan)
                throw new IllegalStateException(
                  "graft-avro delta commit: concurrent delete conflict — " +
                    "the table's delete sidecars changed since this " +
                    "operation planned; nothing was published, retry the " +
                    "operation against the current state")
              staged.foreach { case (tmp, fin) =>
                if (!new File(tmp).renameTo(new File(fin)))
                  throw new java.io.IOException(
                    s"graft-avro delta commit: rename failed $tmp -> $fin")
              }
              if (dels.nonEmpty) {
                val prior = AvroFileSource.readPosdel(dirF)
                AvroFileSource.writePosdelSidecar(dirF,
                  prior ++ dels.map { case (rel, ps) =>
                    rel -> (prior.getOrElse(rel, Array.emptyLongArray) ++ ps)
                      .distinct.sorted
                  })
              }
              val walked =
                if (staged.nonEmpty) {
                  // appended files are unsorted: the verified-sort claim
                  // withdraws, same as any append
                  AvroFileSource.sortMarker(dirF).delete()
                  AvroFileSource.foldStatsManifests(dirF, innerMsgs)
                } else None
              // r16: journal ALWAYS — a pure position delete mints its
              // own version (the posdel content comparison inside
              // appendSnapshot no-ops when nothing changed), so CDC
              // feeds serve MoR deletes as exact row-level deltas
              if (staged.nonEmpty || dels.nonEmpty)
                AvroFileSource.appendSnapshot(dirF,
                  if (staged.nonEmpty) "update" else "delete",
                  liveHint = walked.map(_.toSeq))
            }
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit =
            messages.toSeq.collect { case m: AvroDeltaCommitMessage => m }
              .flatMap(_.inner).flatMap(_.files)
              .foreach { case (tmp, _) => new File(tmp).delete() }
        }
    }
}

case class AvroDeltaWriterFactory(path: String, schema: StructType,
    rowIdSchema: StructType, codec: String, partitionBy: Seq[String],
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] = {
    val fileIdx = rowIdSchema.fieldIndex(AvroFileSource.MetaFile)
    val posIdx = rowIdSchema.fieldIndex(AvroFileSource.MetaPos)
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val dels = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      // insert file created lazily: a pure DELETE task leaves no litter
      private var inner: DataWriter[InternalRow] = null
      private def innerWriter(): DataWriter[InternalRow] = {
        if (inner == null) {
          val base = AvroWriterFactory(path, schema, codec, partitionBy,
            staged = true).createWriter(partitionId, taskId)
          inner =
            if (checks.isEmpty) base else CheckedWriters.wrap(base, checks)
        }
        inner
      }
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          id.getLong(posIdx)
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = throw new IllegalStateException(
        "graft-avro delta write: update() is unreachable — updates are " +
          "represented as delete+insert")
      override def insert(row: InternalRow): Unit = innerWriter().write(row)
      override def commit(): WriterCommitMessage =
        AvroDeltaCommitMessage(
          dels.map { case (k, v) => k -> v.toArray }.toMap,
          if (inner == null) None
          else Some(inner.commit().asInstanceOf[AvroCommitMessage]))
      override def abort(): Unit = if (inner != null) inner.abort()
      override def close(): Unit = if (inner != null) inner.close()
    }
  }
}

private[sources] object AvroWriters {

  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  // ------------------------------------------------------------------
  // INTERNAL-value stat plumbing (r21): the per-row write hot path runs
  // on Catalyst internal values (UTF8String, epoch-day Int, micros
  // Long, Decimal) instead of externalizing every leaf per row — the
  // old externalView + java.sql.Date/Timestamp/String churn was the
  // second-largest write cost after the GenericRecord encode. External
  // conversion now happens once per FILE at manifest emission.

  /** Total-order compare on INTERNAL values. It must agree with the
    * order read-side pruning applies to the external forms (see
    * `AvroFilterEval`): strings are UTF8String binary order == UTF-8
    * byte order on both sides. None = type has no comparator here.
    */
  private[sources] def internalCmp(dt: DataType): Option[(Any, Any) => Int] =
    dt match {
      case StringType => Some((a, b) =>
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
      case LongType | TimestampType => Some((a, b) => java.lang.Long.compare(
        a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case IntegerType | DateType => Some((a, b) => Integer.compare(
        a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case ShortType => Some((a, b) => java.lang.Short.compare(
        a.asInstanceOf[Short], b.asInstanceOf[Short]))
      case ByteType => Some((a, b) => java.lang.Byte.compare(
        a.asInstanceOf[Byte], b.asInstanceOf[Byte]))
      case DoubleType => Some((a, b) => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double]))
      case FloatType => Some((a, b) => java.lang.Float.compare(
        a.asInstanceOf[Float], b.asInstanceOf[Float]))
      case BooleanType => Some((a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]))
      case _: DecimalType => Some((a, b) => a.asInstanceOf[Decimal]
        .compareTo(b.asInstanceOf[Decimal]))
      case _ => None
    }

  /** Detach an internal value that must SURVIVE the current row: the
    * incoming InternalRow may be a reused Unsafe buffer, so a retained
    * UTF8String view must be copied. Everything else this path stores
    * is boxed-fresh per `get` (primitives, Decimal) already.
    */
  private[sources] def copyInternal(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  /** Internal → external value for manifest/zone encoding (once per
    * file or chunk, never per row). Same mapping the old per-row
    * external view produced.
    */
  private[sources] def toExternal(v: Any, dt: DataType): Any =
    if (v == null) null else graft.avro.AvroInternalCodec.externalize(v, dt)

  /** The one sortable-type rule, shared by the `sortedBy` write claim
    * and analyze's block-index backfill: the internal comparator a
    * verified order (or a per-chunk range) is tracked with, or None
    * when the type has no verifiable total order. Float/double are
    * refused on top of [[internalCmp]]'s gaps: NaN defeats pairwise
    * order verification (Spark sorts NaN last).
    */
  private[sources] def sortCmp(dt: DataType): Option[(Any, Any) => Int] =
    dt match {
      case FloatType | DoubleType => None
      case _ => internalCmp(dt)
    }

  /** Per-file order verifier for a `sortedBy` write claim: consecutive
    * INTERNAL value tuples must be non-decreasing LEXICOGRAPHICALLY
    * under the planned per-column comparators (`cmps`, one per column
    * from [[sortCmp]]), with nulls first per column (Spark's default
    * ascending order; a single-column claim is the one-element case).
    * Throws on the first violation so an unsorted job fails instead of
    * stamping a wrong layout claim. The tuple compare subsumes the null
    * rule: a null primary after a non-null primary compares
    * greater-on-the-left and throws, while a null in a SECONDARY column
    * after non-null values is legal whenever an earlier column advanced.
    */
  private[sources] final class OrderVerifier(cols: Seq[String],
      cmps: Array[(Any, Any) => Int]) {
    private def cmpN(i: Int, a: Any, b: Any): Int =
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else cmps(i)(a, b)
    private var prev: Array[Any] = _
    def check(vs: Array[Any]): Unit = {
      if (prev != null) {
        var i = 0
        var c = 0
        while (i < vs.length && c == 0) { c = cmpN(i, prev(i), vs(i)); i += 1 }
        if (c > 0) throw new IllegalArgumentException(
          s"sortedBy '${cols.mkString(",")}' violated: " +
            s"${prev.mkString("(", ",", ")")} > ${vs.mkString("(", ",", ")")}")
      }
      prev = vs
    }
  }

  /** Block-range zone index of one file (`_graft_blockidx`): per chunk
    * of rows, the TRUE [min, max] of every indexed column (secondary
    * sort columns are not monotone across primary runs, so
    * comparator-tracked bounds, not first/last), plus the chunk's
    * membership cells when `cells` is set. Values arrive INTERNAL and
    * detached from the row buffer; they are externalized only when a
    * chunk is cut. The caller decides where a chunk ends: the writer
    * forces a sync, analyze cuts at the file's own block boundaries.
    */
  private[sources] final class BlockIndex(cols: Seq[String],
      dts: Array[DataType], cmps: Array[(Any, Any) => Int],
      cells: ChunkBloomBuilder) {
    private val mins = new Array[Any](dts.length)
    private val maxs = new Array[Any](dts.length)
    private val colEncs = cols.map(java.net.URLEncoder.encode(_, "UTF-8"))
    private val lines =
      Seq.newBuilder[(String, String, Long, Long, String, String)]
    private var chunks = 0
    /** Start offset and row count of the open chunk. */
    var start = 0L
    var rows = 0

    def track(vs: Array[Any]): Unit = {
      rows += 1
      var i = 0
      while (i < vs.length) {
        val v = vs(i)
        if (v != null) {
          if (mins(i) == null) { mins(i) = v; maxs(i) = v }
          else {
            if (cmps(i)(v, mins(i)) < 0) mins(i) = v
            if (cmps(i)(v, maxs(i)) > 0) maxs(i) = v
          }
        }
        i += 1
      }
    }

    /** Close the open chunk at byte offset `end`: one sidecar line per
      * column — (colEnc, type, rangeStart, rangeEnd, minEnc|-, maxEnc|-)
      * — then one per membership cell.
      */
    def cut(end: Long): Unit = {
      // strings truncate like the all-column manifest, except that an
      // un-bumpable max keeps its full value (`-` would mean all-null)
      def enc(v: Any, c: Int, hi: Boolean): String =
        if (v == null) "-"
        else toExternal(v, dts(c)) match {
          case s: String if hi => AvroFileSource.zoneEncode(
            AvroFileSource.truncBoundMax(s).getOrElse(s))
          case s: String =>
            AvroFileSource.zoneEncode(AvroFileSource.truncBoundMin(s))
          case other => AvroFileSource.zoneEncode(other)
        }
      cols.indices.foreach { c =>
        lines += ((colEncs(c), dts(c).simpleString, start, end,
          enc(mins(c), c, hi = false), enc(maxs(c), c, hi = true)))
      }
      if (cells != null) cells.cut().zipWithIndex.foreach { case (b, j) =>
        lines += ((cells.colEncs(j), cells.tags(j), start, end, b, "-"))
      }
      chunks += 1
      start = end; rows = 0
      java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
    }

    /** Close the last chunk at `end` (the file's on-disk length) and
      * return the sidecar lines. Fewer than two chunks index nothing
      * (the file-level zones already cover a one-chunk file).
      */
    def finish(end: Long): Seq[(String, String, Long, Long, String, String)] = {
      if (rows > 0) cut(end)
      if (chunks < 2) Nil else lines.result()
    }
  }

  /** Per-file min/max tracker for every primitive leaf column — the
    * all-column zone manifest's write side. Runs on every batch write
    * (sorted or not): one type-specialized compare per leaf per row, no
    * BigDecimal churn in the hot path. Float/double leaves go DEAD on
    * the first non-finite value (NaN breaks the ordering a finite range
    * promises — Spark compares NaN greatest, so a finite max would
    * wrongly prune `col > largeValue`); dead or all-null leaves emit no
    * entry, and absent entries are never pruned.
    */
  private[sources] final class ColumnStats(schema: StructType) {
    import org.apache.spark.sql.types._

    // (dotted name, field-index path, intermediate-struct sizes,
    // recorded type, INTERNAL-value comparator). Runs on InternalRow
    // since r21 — same leaf eligibility as the old external path
    // (internalCmp covers exactly the old cmpFor set; strings compare
    // UTF8String-binary == the old code-point order).
    private val leaves: Array[(String, Array[Int], Array[Int], DataType,
        (Any, Any) => Int)] = {
      val out = Array.newBuilder[(String, Array[Int], Array[Int], DataType,
        (Any, Any) => Int)]
      def walk(st: StructType, prefix: String, path: List[Int],
          sizes: List[Int]): Unit =
        st.fields.zipWithIndex.foreach { case (f, i) =>
          val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          f.dataType match {
            case s: StructType => walk(s, name, i :: path, s.length :: sizes)
            case dt => internalCmp(dt).foreach(c =>
              out += ((name, (i :: path).reverse.toArray,
                sizes.reverse.toArray, dt, c)))
          }
        }
      walk(schema, "", Nil, Nil)
      // AMBIGUOUS dotted names are dropped entirely: a top-level column
      // literally named "a.b" and a nested leaf a.b would write manifest
      // entries under the identical key, and the read side could apply
      // one column's bounds to the other — unsound pruning. Absence ⇒
      // keep is the only safe answer for both.
      val all = out.result()
      val dup = all.groupBy(_._1).collect { case (n, ls) if ls.length > 1 => n }
        .toSet
      all.filterNot(l => dup.contains(l._1))
    }

    private val mins = new Array[Any](leaves.length)
    private val maxs = new Array[Any](leaves.length)
    private val dead = new Array[Boolean](leaves.length)

    // Exact per-file SUM + non-null COUNT for integral leaves, the
    // extra manifest cells behind metadata-served SUM/COUNT(col)/AVG.
    // Accumulated with addExact: an overflowing file simply emits no
    // sum entry (coverage breaks -> the aggregate falls back to a real
    // scan, which reproduces Spark's native wrap semantics).
    private val summable: Array[Boolean] = leaves.map(_._4 match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    private val sums = new Array[Long](leaves.length)
    private val cnts = new Array[Long](leaves.length)
    private val sumDead = new Array[Boolean](leaves.length)

    // Per-leaf NON-NULL count + the file's row total — the `cnt:` cells
    // behind IS [NOT] NULL file decisions, nullable-column zone
    // eligibility (a file with zero nulls upgrades its bounds from
    // "all values" to "all rows"), and metadata-served COUNT(col) for
    // every leaf type. Independent of min/max deadness: a non-finite
    // float is still non-null.
    private val nonNulls = new Array[Long](leaves.length)
    private var rowsSeen = 0L

    private def nonFinite(v: Any): Boolean = v match {
      case d: java.lang.Double => d.isNaN || d.isInfinite
      case f: java.lang.Float  => f.isNaN || f.isInfinite
      case _ => false
    }

    def update(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      rowsSeen += 1
      var l = 0
      while (l < leaves.length) {
        val (_, path, sizes, dt, cmp) = leaves(l)
        // navigate nested structs on internal getters; a null parent
        // struct makes the leaf null (same as the old external walk)
        var g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters =
          row
        var d = 0
        while (d < path.length - 1 && g != null) {
          g = if (g.isNullAt(path(d))) null else g.getStruct(path(d), sizes(d))
          d += 1
        }
        val last = path(path.length - 1)
        val v: Any =
          if (g == null || g.isNullAt(last)) null else g.get(last, dt)
        if (v != null) {
          nonNulls(l) += 1
          if (!dead(l)) {
            if (nonFinite(v)) dead(l) = true
            else if (mins(l) == null) {
              // copyInternal: a stored UTF8String must not alias the
              // (possibly reused) incoming row buffer
              val c = copyInternal(v); mins(l) = c; maxs(l) = c
            } else {
              if (cmp(v, mins(l)) < 0) mins(l) = copyInternal(v)
              if (cmp(v, maxs(l)) > 0) maxs(l) = copyInternal(v)
            }
            if (summable(l) && !sumDead(l)) {
              try {
                sums(l) = Math.addExact(sums(l),
                  v.asInstanceOf[Number].longValue)
                cnts(l) += 1
              } catch { case _: ArithmeticException => sumDead(l) = true }
            }
          }
        }
        l += 1
      }
    }

    private def truncMin(s: String): String = AvroFileSource.truncBoundMin(s)
    private def truncMax(s: String): Option[String] =
      AvroFileSource.truncBoundMax(s)

    /** Settled bounds: (dotted name, typeName, minEnc, maxEnc) for every
      * live leaf. An ALL-NULL live leaf emits an explicit `__null__`
      * marker pair — it contributes nothing to pruning (the read side
      * drops null bounds) but makes COVERAGE checkable: the
      * metadata-served MIN/MAX path may only trust the manifest when
      * every file carries an entry for the column, and "file has only
      * nulls" must be distinguishable from "file not covered". Dead
      * (non-finite) leaves still emit nothing — their files genuinely
      * are not covered.
      */
    def stats: Seq[(String, String, String, String)] =
      leaves.indices.flatMap { l =>
        if (dead(l)) None
        else {
          val (name, _, _, dt, _) = leaves(l)
          // stored values are INTERNAL — externalize once per file here
          val bounds: Option[(Any, Any)] =
            if (mins(l) == null) Some((null, null))
            else (toExternal(mins(l), dt), toExternal(maxs(l), dt)) match {
              case (mn: String, mx: String) =>
                truncMax(mx).map(m => (truncMin(mn): Any, m: Any))
              case (mn, mx) => Some((mn, mx))
            }
          // a REAL string value "__null__" must not collide with the
          // all-null coverage marker (same escape as the partition-dir
          // writer: force-encode the first byte; URL-decodes back)
          def enc(v: Any): String = {
            val e = AvroFileSource.zoneEncode(v)
            if (e == "__null__") "%5F_null__" else e
          }
          bounds.map { case (mn, mx) =>
            (java.net.URLEncoder.encode(name, "UTF-8"), dt.simpleString,
              if (mn == null) "__null__" else enc(mn),
              if (mx == null) "__null__" else enc(mx))
          }
        }
      }.toSeq ++
        // SUM cells ride the same manifest under a `sum:`-prefixed type
        // tag — every bounds consumer guards on `dt == simpleString`, so
        // the two entry kinds are mutually invisible (the trigram-bloom
        // precedent) and the merge/truncate lifecycle is inherited.
        // Layout: min slot = exact sum, max slot = non-null count. An
        // all-null live leaf emits (0, 0) so coverage stays checkable.
        leaves.indices.collect {
          case l if summable(l) && !sumDead(l) =>
            val (name, _, _, dt, _) = leaves(l)
            (java.net.URLEncoder.encode(name, "UTF-8"),
              "sum:" + dt.simpleString, sums(l).toString, cnts(l).toString)
        } ++
        // `cnt:` cells (every leaf, dead-or-not — null counting is
        // exact regardless of non-finite values): min slot = non-null
        // count, max slot = the file's row total. Consumers: IS [NOT]
        // NULL tri-state decisions, nullable-column zone-decision
        // eligibility (zero nulls ⇒ bounds cover all rows), IS NULL
        // file pruning, metadata COUNT(col) for non-integral leaves.
        leaves.indices.map { l =>
          val (name, _, _, dt, _) = leaves(l)
          (java.net.URLEncoder.encode(name, "UTF-8"),
            "cnt:" + dt.simpleString, nonNulls(l).toString,
            rowsSeen.toString)
        }
  }
  /** Per-file bloom filters for the named columns — the equality/IN
    * file-skipping index for HIGH-CARDINALITY SCATTERED keys, where
    * zones cannot prune (every file's [min,max] spans the domain) but
    * membership can: a point lookup on a hash-distributed key opens
    * ~1 file instead of all of them. Built at m=2^15 bits with k=5
    * double-hashed md5 probes per value, then folded at file close
    * ([[AvroFileSource.foldBloom]]) to the narrowest power-of-two width
    * that stays at most 1/8 full: ~3e-5 false positives at any width
    * below 2^15, so a 10-row file emits 64 bytes of bits, not 4 KB.
    * Sets that stay unfolded (past ~440 distinct values) keep ~1%
    * false positives to ~4.5k values; false positives only weaken pruning,
    * never break it. Values hash on their canonical external toString
    * — the same representation the read side derives from a pushed
    * filter value.
    */
  private[sources] final class BloomBuilder(schema: StructType,
      cols: Seq[String], trigramCols: Seq[String] = Nil) {
    import AvroFileSource.BloomBits
    private val idx = cols.map(schema.fieldIndex)
    private val bits = Array.fill(cols.size)(new Array[Long](BloomBits / 64))
    private val seen = Array.fill(cols.size)(false)
    private val tIdx = trigramCols.map(schema.fieldIndex)
    private val tBits =
      Array.fill(trigramCols.size)(new Array[Long](BloomBits / 64))
    private val tSeen = Array.fill(trigramCols.size)(false)
    private val trigHasher = new AvroFileSource.TrigramHasher

    def update(view: org.apache.spark.sql.Row): Unit = {
      var c = 0
      while (c < idx.length) {
        val v = view.get(idx(c))
        if (v != null) {
          seen(c) = true
          AvroFileSource.bloomAdd(bits(c), AvroFileSource.canonicalValue(v))
        }
        c += 1
      }
      c = 0
      while (c < tIdx.length) {
        val v = view.get(tIdx(c))
        if (v != null) {
          // seen flips on ANY non-null value, even ones too short to
          // carry a trigram: an emitted all-zero set soundly prunes
          // needles of length >= 3 that no short value can contain
          tSeen(c) = true
          trigHasher.add(tBits(c), v.toString)
        }
        c += 1
      }
    }

    private def b64(a: Array[Long]): String =
      AvroFileSource.encodeBloom(AvroFileSource.foldBloom(a))

    /** (colEnc, typeName, base64 folded bits) per column that saw a
      * value — all-null columns emit nothing (absence ⇒ keep, sound).
      * Trigram entries carry [[AvroFileSource.TrigramTypeTag]] so
      * neither reader kind can decode the other's bits.
      */
    def stats: Seq[(String, String, String)] =
      cols.indices.filter(seen).map { c =>
        (java.net.URLEncoder.encode(cols(c), "UTF-8"),
          schema.fields(idx(c)).dataType.simpleString, b64(bits(c)))
      } ++ trigramCols.indices.filter(tSeen).map { c =>
        (java.net.URLEncoder.encode(trigramCols(c), "UTF-8"),
          AvroFileSource.TrigramTypeTag, b64(tBits(c)))
      }
  }

  /** Per-CHUNK bloom accumulator for the opt-in `chunkBloomFor` columns
    * (r18): one [[AvroFileSource.BloomBits]] set per (chunk, column),
    * cut at the SAME forced-sync boundaries as the block-range zone
    * chunks — the cells ride the `_graft_blockidx` sidecar under the
    * `bloom:<type>` tag (type-tag invisibility: the zone consumer's
    * `recorded type == read type` guard drops them and vice versa), so
    * a broadcast join-key IN-set or equality literal can drop CHUNKS of
    * a kept file, composing the 13× intra-file skipping with membership
    * pruning. An all-zero cell means the chunk held no non-null value —
    * pruning it under any equality probe is sound (null never
    * equality-matches), unlike the file-level manifest where absence is
    * the all-null signal.
    */
  private[sources] final class ChunkBloomBuilder(schema: StructType,
      cols: Seq[String], trigCols: Seq[String] = Nil) {
    import AvroFileSource.BloomBits
    private val idx = cols.map(schema.fieldIndex)
    // trigram cells (r19): per chunk, the bloom of every TRIGRAM of the
    // column's string values — contains/startsWith/endsWith probes with
    // needle length >= 3 prune chunks by the all-of trigram rule; a
    // zero cell (all strings shorter than 3) soundly prunes
    private val tIdx = trigCols.map(schema.fieldIndex)
    private val trigHasher = new AvroFileSource.TrigramHasher
    private var bits =
      Array.fill(cols.size + trigCols.size)(new Array[Long](BloomBits / 64))

    def update(view: org.apache.spark.sql.Row): Unit = {
      var c = 0
      while (c < idx.length) {
        val v = view.get(idx(c))
        if (v != null)
          AvroFileSource.bloomAdd(bits(c), AvroFileSource.canonicalValue(v))
        c += 1
      }
      var t = 0
      while (t < tIdx.length) {
        val v = view.get(tIdx(t))
        if (v != null)
          trigHasher.add(bits(cols.size + t), v.toString)
        t += 1
      }
    }

    /** The closed chunk's base64 cells (one per column, unfolded: a
      * 4096-row chunk fills about half its bits), then reset.
      */
    def cut(): Array[String] = {
      val out = bits.map(AvroFileSource.encodeBloom)
      bits = Array.fill(cols.size + trigCols.size)(
        new Array[Long](BloomBits / 64))
      out
    }

    val colEncs: Seq[String] =
      (cols ++ trigCols).map(java.net.URLEncoder.encode(_, "UTF-8"))
    val tags: Seq[String] =
      idx.map(i => "bloom:" + schema.fields(i).dataType.simpleString) ++
        trigCols.map(_ => AvroFileSource.TrigramTypeTag)
  }

  /** Per-file HLL NDV sketches for the opt-in `ndvFor` columns: one
    * 256-register array per column, merged across files by element-wise
    * max at plan time. Values hash on their canonical external toString
    * (the same convention as the bloom sidecar) — an estimate feeds the
    * planner, so hash-representation consistency matters more than
    * type-level canonicalization.
    */
  private[sources] final class NdvBuilder(schema: StructType,
      cols: Seq[String]) {
    private val idx = cols.map(schema.fieldIndex)
    private val regs =
      Array.fill(cols.size)(new Array[Byte](AvroFileSource.NdvRegisters))
    private val seen = Array.fill(cols.size)(false)

    def update(view: org.apache.spark.sql.Row): Unit = {
      var c = 0
      while (c < idx.length) {
        val v = view.get(idx(c))
        if (v != null) {
          seen(c) = true
          AvroFileSource.ndvAdd(regs(c), AvroFileSource.canonicalValue(v))
        }
        c += 1
      }
    }

    def stats: Seq[(String, String, String)] =
      cols.indices.filter(seen).map { c =>
        (java.net.URLEncoder.encode(cols(c), "UTF-8"),
          schema.fields(idx(c)).dataType.simpleString,
          java.util.Base64.getEncoder.encodeToString(regs(c)))
      }
  }

  /** Container codec by name — "zstandard" (default), "deflate"
    * (level 6), "null", "snappy", "bzip2", "xz" (whatever this Avro
    * build plus classpath supports; zstd and snappy ship with Spark).
    */
  def codecFor(name: String): org.apache.avro.file.CodecFactory =
    name.toLowerCase match {
      case "deflate" => org.apache.avro.file.CodecFactory.deflateCodec(6)
      case other => org.apache.avro.file.CodecFactory.fromString(other)
    }

  /** The table data-file writer of one task, batch and streaming alike.
    * Each row routes to a [[WriteSegment]] by its routing key:
    * Hive-style `col1=v1/col2=v2` for `partCols` (values URL-encoded,
    * nulls as `__null__`), then hash-bucket and transform segments — or
    * `""` (the table root) when none is configured. Partition columns
    * STAY in the file: the directory is a pruning index, not the
    * storage of the value. The open-segment count per task is the
    * task's distinct keys: pre-repartition by the partition columns
    * when cardinality is high (the same guidance as every file source).
    *
    * `lazyCreate` postpones an unrouted writer's file to the first row
    * so an empty streaming partition produces no file; routed segments
    * are always created by their first row.
    *
    * Rolling (`targetFileBytes`) applies to BOTH write modes. Staged
    * batch files publish at job commit as usual. Streaming (unstaged)
    * keeps exactly-once: the rolled name is a pure function of (epoch,
    * partition, seq), and roll points are deterministic for a replayed
    * epoch's identical row sequence — a retry truncate-rewrites the
    * SAME segment series, exactly like the single-file contract.
    */
  def open(path: String, schema: StructType, fileName: String,
      lazyCreate: Boolean, codec: String = AvroFileSource.DefaultCodec,
      staged: Boolean = false,
      sortedBy: Option[String] = None,
      bloomFor: Seq[String] = Nil,
      ndvFor: Seq[String] = Nil,
      trigramFor: Seq[String] = Nil,
      targetFileBytes: Option[Long] = None,
      partCols: Seq[String] = Nil,
      buckets: Seq[(String, Int)] = Nil,
      xforms: Seq[Xform] = Nil,
      chunkBloomFor: Seq[String] = Nil,
      chunkTrigramFor: Seq[String] = Nil): DataWriter[InternalRow] = {
    val avroSchema = AvroSchemaConverter.toAvro(schema, "topLevelRecord", None, None)
    val sortColsList = sortedBy.toSeq.flatMap(AvroFileSource.sortCols)
    val sortIdx = sortColsList.map(schema.fieldIndex).toArray
    val sortDts = sortIdx.map(i => schema.fields(i).dataType)
    val sortCmps: Array[(Any, Any) => Int] = sortDts.map(dt =>
      sortCmp(dt).getOrElse(throw new IllegalArgumentException(
        s"sortedBy does not support ${dt.simpleString}")))
    val idx = partCols.map(schema.fieldIndex)
    val bidx = buckets.map { case (c, _) => schema.fieldIndex(c) }
    val xidx = xforms.map(x => schema.fieldIndex(x.col))
    val routed = partCols.nonEmpty || buckets.nonEmpty || xforms.nonEmpty
    // per-chunk membership cells ride the block index of a sorted
    // staged write
    val chunkCells = staged && sortIdx.nonEmpty &&
      (chunkBloomFor.nonEmpty || chunkTrigramFor.nonEmpty)
    // the external view feeds routing and the canonical-string hashers
    // only — an unrouted writer without hashers never builds it
    val needsView = routed || bloomFor.nonEmpty || trigramFor.nonEmpty ||
      ndvFor.nonEmpty || chunkCells

    def routeKey(view: org.apache.spark.sql.Row): String =
      (partCols.zip(idx).map { case (c, i) =>
        val v = view.get(i)
        val raw =
          if (v == null) "__null__"
          else {
            val e = java.net.URLEncoder.encode(v.toString, "UTF-8")
            // a literal "__null__" value must not collide with the
            // null marker: force-encode its first byte (decodes back)
            if (e == "__null__") "%5F_null__" else e
          }
        s"$c=$raw"
      } ++ buckets.zip(bidx).map { case ((c, n), i) =>
        // hidden partitioning: the segment value is the HASH BUCKET
        // of the canonical string, not the value itself — nulls get
        // the `__null__` segment (an equality filter never matches
        // null, so that directory prunes under any bucket target)
        val v = view.get(i)
        val seg =
          if (v == null) "__null__"
          else AvroFileSource.bucketOf(
            AvroFileSource.canonicalValue(v), n).toString
        s"${AvroFileSource.bucketSegName(c)}=$seg"
      } ++ xforms.zip(xidx).map { case (x, i) =>
        // hidden temporal/truncate partitioning: the segment value is
        // the TRANSFORM of the external value (day/month/hour/year
        // ordinal or truncated prefix); nulls get `__null__` like
        // buckets — compares never match null, so it prunes
        s"${x.segName}=${AvroTransforms.segValue(x, view.get(i))}"
      }).mkString("/")

    /** One container file plus its per-file stat builders — the unit a
      * write rolls and routes by. Stats and the sort verifier are PER
      * SEGMENT so every file gets its own zone bounds, sum cells,
      * blooms and row count, exactly like a separate task file. Stats
      * run for STREAMING (unstaged) segments too: the epoch commit
      * folds them like a batch commit.
      */
    final class WriteSegment(key: String, seq: Int) {
      private val finalFile: File = {
        val dir = new File(path, key)
        if (key.nonEmpty) dir.mkdirs()
        new File(dir,
          if (seq == 0) fileName
          else fileName.stripSuffix(".avro") + s"-r$seq.avro")
      }
      val file: File =
        if (staged) new File(finalFile.getPath + ".staging") else finalFile
      private val writer: DataFileWriter[InternalRow] = {
        val w = new DataFileWriter[InternalRow](
          AvroDirectDatumWriter(schema, avroSchema))
        w.setCodec(codecFor(codec))
        w.create(avroSchema, file) // truncates: task retry = rewrite
        w
      }
      private val verifier: OrderVerifier =
        if (sortIdx.nonEmpty) new OrderVerifier(sortColsList, sortCmps)
        else null
      private val colStats = new ColumnStats(schema)
      private val bloomStats: BloomBuilder =
        if (bloomFor.nonEmpty || trigramFor.nonEmpty)
          new BloomBuilder(schema, bloomFor, trigramFor)
        else null
      private val ndvStats: NdvBuilder =
        if (ndvFor.nonEmpty) new NdvBuilder(schema, ndvFor)
        else null
      private val cells: ChunkBloomBuilder =
        if (chunkCells)
          new ChunkBloomBuilder(schema, chunkBloomFor, chunkTrigramFor)
        else null
      private val blockIdx: BlockIndex =
        if (staged && sortIdx.nonEmpty)
          new BlockIndex(sortColsList, sortDts, sortCmps, cells)
        else null
      private var nRows = 0L
      private var sinceCheck = 0

      def write(record: InternalRow, view: org.apache.spark.sql.Row): Unit = {
        var sortVals: Array[Any] = null
        if (verifier != null) {
          // INTERNAL sort values, detached once (copyInternal): the
          // verifier's prev tuple and the block index's bounds retain
          // them past this row, and the incoming buffer may be reused
          sortVals = new Array[Any](sortIdx.length)
          var k = 0
          while (k < sortVals.length) {
            val i = sortIdx(k)
            sortVals(k) =
              if (record.isNullAt(i)) null
              else copyInternal(record.get(i, sortDts(k)))
            k += 1
          }
          verifier.check(sortVals)
        }
        colStats.update(record)
        if (bloomStats != null) bloomStats.update(view)
        if (ndvStats != null) ndvStats.update(view)
        // BEFORE the block index: a cut flushed by this row must
        // include this row's membership bits
        if (cells != null) cells.update(view)
        nRows += 1
        writer.append(record)
        // block-range index AFTER the append so a forced sync closes a
        // block that INCLUDES this row. sync() returns the NEXT block's
        // start; −16 lands the boundary on the preceding sync's offset
        // (the split rule: a block belongs to the range containing
        // blockStart − 16)
        if (blockIdx != null) {
          blockIdx.track(sortVals)
          if (blockIdx.rows >= AvroFileSource.BlockIdxRows)
            blockIdx.cut(writer.sync() - 16)
        }
      }

      /** Whether this segment reached `target` bytes. Checked on the
        * observed on-disk size every 256 rows: it lags by at most one
        * unflushed container block — bounded overshoot, no forced sync
        * that would shrink compression blocks.
        */
      def full(target: Long): Boolean = {
        sinceCheck += 1
        if (sinceCheck < 256) false
        else { sinceCheck = 0; file.length() >= target }
      }

      def close(): Unit = writer.close()

      /** The segment's share of the task's commit message; call after
        * [[close]] (the last block-index chunk ends at the on-disk
        * length). Stats are keyed on the final path in both modes; only
        * the staged-rename vs streamed-path bookkeeping differs.
        */
      def message: AvroCommitMessage = {
        val fin = finalFile.getPath
        def keyed[T](s: Seq[T]) = if (s.isEmpty) Nil else Seq(fin -> s)
        AvroCommitMessage(
          if (staged) Seq(file.getPath -> fin) else Nil,
          colZones = keyed(colStats.stats),
          blooms = if (bloomStats == null) Nil else keyed(bloomStats.stats),
          rows = Seq(fin -> nRows),
          ndvs = if (ndvStats == null) Nil else keyed(ndvStats.stats),
          streamed = if (staged) Nil else Seq(fin),
          blockIdx =
            if (blockIdx == null) Nil else keyed(blockIdx.finish(file.length())))
      }
    }

    new DataWriter[InternalRow] {
      private val open =
        scala.collection.mutable.LinkedHashMap.empty[String, WriteSegment]
      private val nextSeq = scala.collection.mutable.HashMap.empty[String, Int]
      private var closed: List[WriteSegment] = Nil
      private def segment(key: String): WriteSegment =
        open.getOrElseUpdate(key, {
          val seq = nextSeq.getOrElse(key, 0)
          nextSeq(key) = seq + 1
          new WriteSegment(key, seq)
        })
      if (!lazyCreate && !routed) segment("")

      private def closeAll(): Unit = {
        open.values.foreach { s => s.close(); closed ::= s }
        open.clear()
      }

      override def write(record: InternalRow): Unit = {
        val view =
          if (needsView) AvroInternalCodec.externalView(record, schema)
          else null
        val key = if (routed) routeKey(view) else ""
        val seg = segment(key)
        seg.write(record, view)
        targetFileBytes.foreach { target =>
          if (seg.full(target)) {
            seg.close()
            closed ::= seg
            open.remove(key)
          }
        }
      }
      override def commit(): WriterCommitMessage = {
        closeAll()
        val ms = closed.reverse.map(_.message)
        AvroCommitMessage(ms.flatMap(_.files),
          colZones = ms.flatMap(_.colZones),
          blooms = ms.flatMap(_.blooms),
          rows = ms.flatMap(_.rows),
          ndvs = ms.flatMap(_.ndvs),
          streamed = ms.flatMap(_.streamed),
          blockIdx = ms.flatMap(_.blockIdx))
      }
      override def abort(): Unit = {
        closeAll()
        closed.foreach(s => s.file.delete())
      }
      override def close(): Unit = ()
    }
  }
}

case class AvroWriterFactory(path: String, schema: StructType,
    codec: String = AvroFileSource.DefaultCodec, partitionBy: Seq[String] = Nil,
    staged: Boolean = false, sortedBy: Option[String] = None,
    bloomFor: Seq[String] = Nil, ndvFor: Seq[String] = Nil,
    trigramFor: Seq[String] = Nil,
    targetFileBytes: Option[Long] = None,
    bucketBy: Seq[(String, Int)] = Nil,
    transformBy: Seq[Xform] = Nil,
    chunkBloomFor: Seq[String] = Nil,
    chunkTrigramFor: Seq[String] = Nil)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // Batch names carry a random component: task ids restart across
    // Spark applications, so `part-<pid>-<tid>` alone can RECUR across
    // generations writing the same directory — and time travel resolves
    // a snapshot's relative paths live-first, which is only sound when a
    // name can never be reused by a later generation.
    val uniq = java.util.UUID.randomUUID().toString.take(8)
    val name = f"part-$partitionId%05d-$taskId-$uniq.avro"
    AvroWriters.open(path, schema, name, lazyCreate = false, codec = codec,
      staged = staged, sortedBy = sortedBy, bloomFor = bloomFor,
      ndvFor = ndvFor, trigramFor = trigramFor,
      targetFileBytes = targetFileBytes, partCols = partitionBy,
      buckets = bucketBy, xforms = transformBy,
      chunkBloomFor = chunkBloomFor, chunkTrigramFor = chunkTrigramFor)
  }
}

case class AvroStreamingWriterFactory(path: String, schema: StructType,
    codec: String = AvroFileSource.DefaultCodec, partitionBy: Seq[String] = Nil,
    bucketBy: Seq[(String, Int)] = Nil,
    transformBy: Seq[Xform] = Nil,
    targetFileBytes: Option[Long] = None,
    bloomFor: Seq[String] = Nil,
    ndvFor: Seq[String] = Nil,
    trigramFor: Seq[String] = Nil)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val name = f"part-e$epochId%06d-$partitionId%05d.avro"
    AvroWriters.open(path, schema, name, lazyCreate = true, codec = codec,
      bloomFor = bloomFor, ndvFor = ndvFor, trigramFor = trigramFor,
      targetFileBytes = targetFileBytes, partCols = partitionBy,
      buckets = bucketBy, xforms = transformBy)
  }
}

/** CHECK-constraint enforcement, shared by the batch and streaming
  * wrappers: each shipped expression is the driver-compiled
  * `EqualNullSafe(cond, false)` — true ⇒ the row DEFINITELY violates
  * (null passes, SQL CHECK semantics). Predicates codegen per task
  * (Predicate.create falls back to interpreted), rows are checked
  * BEFORE they reach the file writer, and the thrown task failure keeps
  * the transactional commit from ever publishing.
  */
private object CheckedWriters {
  import org.apache.spark.sql.catalyst.expressions.{BasePredicate,
    Expression, Predicate => CPredicate}

  def wrap(inner: DataWriter[InternalRow],
      checks: Seq[(String, String, Expression)]): DataWriter[InternalRow] = {
    val preds: Seq[(String, String, BasePredicate)] =
      checks.map { case (n, e, b) => (n, e, CPredicate.create(b)) }
    new DataWriter[InternalRow] {
      override def write(r: InternalRow): Unit = {
        preds.foreach { case (n, ex, p) =>
          if (p.eval(r)) throw new IllegalArgumentException(
            s"graft-avro CHECK constraint '$n' violated: ($ex) is false " +
              "for an input row — no data was published")
        }
        inner.write(r)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

case class CheckedWriterFactory(inner: DataWriterFactory,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    CheckedWriters.wrap(inner.createWriter(partitionId, taskId), checks)
}

case class CheckedStreamingWriterFactory(inner: StreamingDataWriterFactory,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    CheckedWriters.wrap(inner.createWriter(partitionId, taskId, epochId),
      checks)
}
