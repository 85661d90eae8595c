package graft.sources

import java.io.File
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style SQL METADATA TABLES, reached by suffixing the table
  * identifier: `SELECT * FROM cat.ns.tbl.history` (also `files`,
  * `refs`, `constraints`). Each is a read-only driver-side view over
  * the table's sidecar state — O(journal/listing) work, the same
  * metadata planning already reads, served as a [[LocalScan]] (rows
  * materialize at scan build, so every query sees the CURRENT state
  * through Spark's table cache).
  *
  *  - `history`: one row per snapshot version (version, kind, n_files,
  *    has_deletes) — timestamps deliberately excluded so results are
  *    deterministic under test.
  *  - `files`: live data files (rel, part, bytes). Record counts are
  *    NOT here: they need a per-file header walk, which must stay
  *    distributed at scale — [[AvroMaintenance.filesTable]] serves
  *    that.
  *  - `refs`: named refs (tags and branch pins) → versions.
  *  - `constraints`: CHECK constraints in force.
  *  - `partitions`: live `k=v` partitions aggregated from the listing
  *    (part, n_files, bytes) — the compaction-planning view (many
  *    small files in one partition = a compact candidate). Same
  *    O(listing) contract as `files`; no record counts.
  *  - `stats` (r20): index/statistics introspection — one row per
  *    (kind, column) sidecar coverage entry (zones / null_cells /
  *    sum_cells / bloom / trigram / block_index / chunk_bloom /
  *    chunk_trigram / ndv / rows / sort) with covered-file counts vs
  *    the live total, plus ANN indexes in the namespace whose recorded
  *    source is this table (ann_ivf / ann_pq). The "why didn't this
  *    prune" debugging view: a column missing its expected row, or
  *    n_files well under n_live, is the answer.
  */
object GraftMetaTables {

  val Names: Set[String] =
    Set("history", "files", "refs", "constraints", "partitions", "stats")

  /** URL-decoded `k=v/k2=v2` partition prefix of a table-relative path
    * ('+' decodes to space — the raw segment would leak encoding into
    * results).
    */
  private def partPrefix(rel: String): String =
    rel.split('/').dropRight(1).map { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if v != "__null__" =>
          k + "=" + java.net.URLDecoder.decode(v, "UTF-8")
        case _ => seg
      }
    }.mkString("/")

  def apply(qualified: String, kind: String, dir: File): Table = {
    val (schema, rows): (StructType, () => Array[InternalRow]) = kind match {
      case "history" => (
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("n_files", IntegerType, nullable = false),
          StructField("has_deletes", BooleanType, nullable = false))),
        () => AvroFileSource.readSnapshots(dir).map { s =>
          InternalRow(s.version, UTF8String.fromString(s.kind),
            s.files.size, s.deletes.isDefined)
        }.toArray)
      case "files" => (
        StructType(Seq(
          StructField("rel", StringType, nullable = false),
          StructField("part", StringType, nullable = false),
          StructField("bytes", LongType, nullable = false))),
        () => {
          val base = dir.getAbsoluteFile.toPath
          AvroFileSource.listPartitioned(dir).map { case (f, _) =>
            val rel = base.relativize(f.getAbsoluteFile.toPath).toString
            InternalRow(UTF8String.fromString(rel),
              UTF8String.fromString(partPrefix(rel)), f.length())
          }.toArray
        })
      case "partitions" => (
        StructType(Seq(
          StructField("part", StringType, nullable = false),
          StructField("n_files", IntegerType, nullable = false),
          StructField("bytes", LongType, nullable = false))),
        () => {
          val base = dir.getAbsoluteFile.toPath
          AvroFileSource.listPartitioned(dir).toSeq
            .map { case (f, _) =>
              val rel = base.relativize(f.getAbsoluteFile.toPath).toString
              (partPrefix(rel), f.length())
            }
            .groupBy(_._1).toSeq.sortBy(_._1)
            .map { case (p, fs) =>
              InternalRow(UTF8String.fromString(p), fs.size,
                fs.map(_._2).sum)
            }.toArray
        })
      case "stats" => (
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("name", StringType, nullable = false),
          StructField("detail", StringType, nullable = false),
          StructField("n_files", IntegerType, nullable = false),
          StructField("n_live", IntegerType, nullable = false))),
        () => {
          val base = dir.getAbsoluteFile.toPath
          val live = AvroFileSource.listLive(dir).map { case (f, _) =>
            base.relativize(f.getAbsoluteFile.toPath).toString
          }.toSet
          val nLive = live.size
          def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, String, Int)]
          // per-file stats sidecars: each line counts toward its
          // family's (kind of its type tag, column, tag) group; row
          // counts count files, and the verified sort claim counts the
          // files with a valued zone cell of its head column
          val sortSpec = AvroFileSource.sortedColumnsOf(dir)
          StatsManifests.Folded.foreach { fam =>
            val byRel = StatsManifests.byRel(fam, fam.in(dir))
            if ((fam eq StatsManifests.ColZones) && sortSpec.nonEmpty)
              out += (("sort", sortSpec.mkString(","), "verified",
                byRel.count { case (rel, ls) =>
                  live(rel) && ls.exists(l => dec(l(1)) == sortSpec.head &&
                    fam.kindOf(l(2)) == "zones" && l(3) != "__null__")
                }))
            if (fam eq StatsManifests.Rows) {
              if (byRel.nonEmpty)
                out += ((fam.kindOf(""), "", "", byRel.keySet.count(live)))
            } else byRel.view.filterKeys(live).toSeq
              .flatMap { case (rel, ls) => ls.map(l => (rel, l)) }
              .groupBy { case (_, l) => (fam.kindOf(l(2)), dec(l(1)), l(2)) }
              .foreach { case ((kind, col, dt), hits) =>
                out += ((kind, col, dt, hits.map(_._1).distinct.size))
              }
          }
          // ANN indexes in the same namespace whose recorded source is
          // THIS table (sidecar lives in the centroids / codebook dir)
          val suffix = "/" + dir.getName
          Option(dir.getParentFile).map(_.listFiles())
            .filter(_ != null).getOrElse(Array.empty[File])
            .filter(s => s.isDirectory &&
              new File(s, "_graft_annidx").isFile)
            .sortBy(_.getName).foreach { s =>
              val fam =
                if (s.getName.endsWith("_centroids")) Some("ivf")
                else if (s.getName.endsWith("_codebook")) Some("pq")
                else None
              fam.foreach { f =>
                try {
                  val meta = GraftAnnIndex.readMeta(s)
                  val srcPath = "/" + meta.source.replace('.', '/')
                  if (dir.getAbsolutePath.replace('\\', '/')
                      .endsWith(srcPath) || srcPath.endsWith(suffix)) {
                    // built@ vs live@ shows index lag behind the corpus
                    val liveV = AvroFileSource.readSnapshots(dir)
                      .lastOption.map(_.version).getOrElse(0L)
                    out += ((s"ann_$f",
                      s.getName.stripSuffix("_centroids")
                        .stripSuffix("_codebook"),
                      s"source=${meta.source} id=${meta.idCol} " +
                        s"vec=${meta.vecCol} " +
                        s"built@v${meta.sourceVersion} live@v$liveV", 0))
                  }
                } catch { case scala.util.control.NonFatal(_) => () }
              }
            }
          out.toSeq.sortBy(t => (t._1, t._2, t._3)).map {
            case (kind, nm, detail, n) =>
              InternalRow(UTF8String.fromString(kind),
                UTF8String.fromString(nm), UTF8String.fromString(detail),
                n, nLive)
          }.toArray
        })
      case "refs" => (
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        () => AvroFileSource.readRefs(dir).toSeq.sortBy(_._1).map {
          case (n, v) => InternalRow(UTF8String.fromString(n), v)
        }.toArray)
      case "constraints" => (
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("expr", StringType, nullable = false))),
        () => AvroFileSource.readConstraints(dir).map { case (n, e) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString(e))
        }.toArray)
      case other => throw new IllegalArgumentException(
        s"graft catalog: unknown metadata table '$other'")
    }
    new MetaTable(qualified, schema, rows)
  }

  private final class MetaTable(qualified: String, tschema: StructType,
      rowsFn: () => Array[InternalRow]) extends Table with SupportsRead {
    override def name(): String = qualified
    override def schema(): StructType = tschema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = () => new LocalScan {
      override def readSchema(): StructType = tschema
      override def rows(): Array[InternalRow] = rowsFn()
      override def description(): String = s"GraftMetaTable $qualified"
    }
  }
}
