package graft.sources

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.types.StructType

import graft.avro.AvroSchemaConverter

/** Process-wide memo: data file → writer schema and codec, so a JVM
  * opens each data file's Avro header once, not once per `load`, per
  * delete, per scan task or per size estimate.
  *
  * An entry is keyed by the file's [[FileIdentity]]: absolute path,
  * `fileKey` (device and inode where the file system has them), modification
  * time in nanoseconds and size, all from one `readAttributes` call.
  * Data files are immutable and their names generation-unique, so a
  * file replaced under its name (a rename, a rewrite) changes that
  * identity and is read again. An entry is stored only when a second
  * stat after the header read still shows the identity the read began
  * with, so a file changing under the read is never memoized.
  *
  * Values are interned by schema equality: a thousand files with one
  * writer schema share one Avro [[Schema]] and one converted
  * [[StructType]]. Both maps are cleared wholesale past their bound,
  * like the journal caches.
  */
private[sources] object WriterSchemas {

  /** Memoized files; past this the memo restarts empty. */
  private val MaxFiles = 1 << 16
  /** Distinct interned schemas; past this the intern table restarts. */
  private val MaxSchemas = 1 << 12

  /** A writer schema and its Catalyst view, shared by every file that
    * carries an equal schema.
    */
  final class Interned private[WriterSchemas] (val schema: Schema,
      val struct: StructType)

  /** One lookup's answer: the file's interned schema, its
    * `avro.codec` (`"null"` when the header names none) and its
    * modification time in milliseconds (what `File.lastModified`
    * reports, the inference sort key), from the same stat.
    */
  final class Header private[WriterSchemas] (val millis: Long,
      val interned: Interned, val codec: String) {
    def schema: Schema = interned.schema
    def struct: StructType = interned.struct
  }

  private final class Entry(val id: FileIdentity, val interned: Interned,
      val codec: String)

  private val byPath = new ConcurrentHashMap[String, Entry]()
  private val bySchema = new ConcurrentHashMap[Schema, Interned]()

  private def intern(s: Schema): Interned = {
    val hit = bySchema.get(s)
    if (hit != null) hit
    else {
      if (bySchema.size >= MaxSchemas) bySchema.clear()
      val fresh = new Interned(s, AvroSchemaConverter.toStruct(s))
      val prior = bySchema.putIfAbsent(s, fresh)
      if (prior != null) prior else fresh
    }
  }

  /** The writer schema of data file `f`: a stat, plus one header open
    * when the memo has no entry for the file's current identity.
    */
  def of(f: File): Header = {
    val key = f.getAbsolutePath
    val a = FileIdentity.attributes(f)
    val id = FileIdentity(a)
    val millis = a.lastModifiedTime().toMillis
    val hit = byPath.get(key)
    if (hit != null && hit.id == id) new Header(millis, hit.interned, hit.codec)
    else {
      val r = new DataFileReader[GenericRecord](
        f, new GenericDatumReader[GenericRecord]())
      val entry = try new Entry(id, intern(r.getSchema),
        Option(r.getMetaString("avro.codec")).getOrElse("null").intern())
      finally r.close()
      if (FileIdentity.of(f).contains(id)) {
        if (byPath.size >= MaxFiles) byPath.clear()
        byPath.put(key, entry)
      }
      new Header(millis, entry.interned, entry.codec)
    }
  }
}

/** A file's identity as one `readAttributes` call sees it: `fileKey`
  * (device and inode where the file system has them), modification time
  * in nanoseconds and size. A file rewritten or replaced under its name
  * gets a new identity; an in-place edit that restores size and time
  * keeps it, which no memo keyed this way can see.
  */
private[sources] final case class FileIdentity(fileKey: AnyRef, nanos: Long,
    size: Long)

private[sources] object FileIdentity {
  def attributes(f: File): BasicFileAttributes =
    Files.readAttributes(f.toPath, classOf[BasicFileAttributes])

  def apply(a: BasicFileAttributes): FileIdentity =
    FileIdentity(a.fileKey(), a.lastModifiedTime().to(TimeUnit.NANOSECONDS),
      a.size())

  /** The identity of `f`, or None when it cannot be stat'ed. */
  def of(f: File): Option[FileIdentity] =
    try Some(FileIdentity(attributes(f)))
    catch { case _: java.io.IOException => None }
}
