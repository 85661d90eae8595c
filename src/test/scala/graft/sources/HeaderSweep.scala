package graft.sources

import java.io.File

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.avro.AvroSchemaConverter

/** Reference schema inference: the header sweep `AvroFileSource
  * .inferSchema` ran before writer schemas were memoized. Every call
  * opens the header of every file of the version's file set, sorts by
  * `(File.lastModified, name)`, applies the rename view, merges
  * nullability and applies the ALTER evolution. Laws compare the
  * memo-backed inference against it.
  */
object HeaderSweep {

  def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val d = new File(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-avro requires a path")))
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
        AvroFileSource.readSnapshots(d).find(_.version == v).get.files
          .map(AvroFileSource.resolveSnapshotFile(d, _))
      case (None, Some((f, t))) =>
        AvroFileSource.incrementalFiles(d, f, t)
          .map(AvroFileSource.resolveSnapshotFile(d, _))
      case _ => branch match {
        case Some(b) =>
          val (forkV, bd) = AvroFileSource.branchFork(d, b)
          AvroFileSource.readSnapshots(d).find(_.version == forkV)
            .getOrElse(throw new IllegalStateException(
              s"graft-avro: branch '$b' fork version $forkV vanished"))
            .files.map(AvroFileSource.resolveSnapshotFile(d, _)) ++
            AvroFileSource.listAvro(bd)
        case None => AvroFileSource.listLive(d).map(_._1)
      }
    }
    require(files.nonEmpty, s"no .avro files under $d")
    def header(f: File): Schema = {
      val r = new DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      try r.getSchema finally r.close()
    }
    val renames = AvroFileSource.readColmap(d)
    val births: Map[String, Long] =
      if (renames.isEmpty) Map.empty else AvroFileSource.fileBirths(d)
    def renamedStruct(f: File, st: StructType): StructType =
      if (renames.isEmpty) st
      else {
        val base = d.getAbsoluteFile.toPath
        val rel0 = base.relativize(f.getAbsoluteFile.toPath).toString
        val rel =
          if (rel0.startsWith("_graft_archive/"))
            rel0.stripPrefix("_graft_archive/")
          else rel0
        val b = births.getOrElse(rel, 0L)
        StructType(st.fields.map { fld =>
          val nn = renames.foldLeft(fld.name) { case (n, (v, from, to)) =>
            if (b < v && n == from) to else n
          }
          if (nn == fld.name) fld else fld.copy(name = nn)
        })
      }
    val structs = files.sortBy(f => (f.lastModified(), f.getName))
      .map(f => renamedStruct(f, AvroSchemaConverter.toStruct(header(f))))
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
    val evolved = AvroFileSource.applyEvo(d, merged,
      travel.orElse(inc.map(_._2)))
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      require(travel.isEmpty && inc.isEmpty && branch.isEmpty,
        "graft-avro: readChangeFeed is exclusive with time travel / " +
          "incremental / branch reads")
      StructType(evolved.fields.toSeq ++ Seq(
        StructField(AvroFileSource.CdcChangeType, StringType,
          nullable = false),
        StructField(AvroFileSource.CdcCommitVersion, LongType,
          nullable = false)))
    } else evolved
  }
}
