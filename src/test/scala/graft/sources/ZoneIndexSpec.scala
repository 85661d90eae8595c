package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The zone index ([[ZoneIndex]]) and the journal caches serve a warm
  * reader by the sidecar's identity (file key, modification time,
  * size). Each case moves a sidecar's bytes while keeping or changing
  * that identity, then asks a lookup: what the lookup plans shows
  * whether it read the file again.
  */
class ZoneIndexSpec extends AnyFunSuite with SparkSpec with Matchers {

  /** Four one-file appends holding k = 10..19, 20..29, 30..39, 40..49. */
  private def table(): (String, StructType) = {
    val dir = graft.operators.Catalog.tempDir("graft_zindex")
    (1 to 4).foreach { i =>
      spark.range(i * 10L, i * 10L + 10).toDF("k").coalesce(1)
        .write.format("graft-avro").mode("append").save(dir)
    }
    (dir, spark.read.format("graft-avro").load(dir).schema)
  }

  /** Files a point lookup of `k` plans. */
  private def planned(dir: String, schema: StructType, k: Long): Int = {
    val sb = new AvroScanBuilder(dir, schema)
    sb.pushFilters(Array(EqualTo("k", k)))
    sb.build().toBatch.planInputPartitions().collect {
      case p: AvroInputPartition => p.file
    }.distinct.length
  }

  private def attrs(f: File): BasicFileAttributes =
    Files.readAttributes(f.toPath, classOf[BasicFileAttributes])

  /** The sidecar with the 20..29 file's bounds rewritten as 40..49: a
    * same-length edit, so a lookup of 25 prunes every file and one of
    * 45 plans two.
    */
  private def lied(zf: File): Array[Byte] = {
    val text = new String(Files.readAllBytes(zf.toPath), "UTF-8")
    text should include("\tbigint\t20\t29")
    text.replace("\tbigint\t20\t29", "\tbigint\t40\t49").getBytes("UTF-8")
  }

  test("a sidecar edited in place with its identity kept is not re-read") {
    val (dir, schema) = table()
    val zf = AvroFileSource.colZoneFile(new File(dir))
    planned(dir, schema, 25L) shouldBe 1
    val before = attrs(zf)
    val raf = new java.io.RandomAccessFile(zf, "rw")
    try raf.write(lied(zf)) finally raf.close()
    Files.setLastModifiedTime(zf.toPath, before.lastModifiedTime())
    val after = attrs(zf)
    after.fileKey() shouldBe before.fileKey()
    after.size() shouldBe before.size()
    after.lastModifiedTime() shouldBe before.lastModifiedTime()
    // a fresh parse sees the edit; the warm lookup does not
    ZoneIndex.parsed(new File(dir), schema).boundsOf("k").values.toSeq
      .count(_ == ((40L, 49L))) shouldBe 2
    planned(dir, schema, 25L) shouldBe 1
    planned(dir, schema, 45L) shouldBe 1
  }

  test("a sidecar replaced with the same size and time is parsed again") {
    val (dir, schema) = table()
    val zf = AvroFileSource.colZoneFile(new File(dir))
    planned(dir, schema, 25L) shouldBe 1
    val before = attrs(zf)
    val other = new File(graft.operators.Catalog.tempDir("graft_zindex"),
      "replacement")
    Files.write(other.toPath, lied(zf))
    Files.move(other.toPath, zf.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(zf.toPath, before.lastModifiedTime())
    // only the file key tells the replacement apart
    val after = attrs(zf)
    after.size() shouldBe before.size()
    after.lastModifiedTime() shouldBe before.lastModifiedTime()
    after.fileKey() should not be before.fileKey()
    planned(dir, schema, 25L) shouldBe 0
    planned(dir, schema, 45L) shouldBe 2
  }

  test("a commit carries the index forward and seeds the journal caches") {
    val (dir, schema) = table()
    val d = new File(dir)
    planned(dir, schema, 25L) shouldBe 1
    spark.range(50L, 60L).toDF("k").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    // an in-place edit of both files after the commit: what the first
    // lookup after it plans, and the state it reads, come from memory
    Seq(AvroFileSource.colZoneFile(d) -> lied _,
        AvroFileSource.snapshotsFile(d) -> { (f: File) =>
          new String(Files.readAllBytes(f.toPath), "UTF-8")
            .replace("\tappend\t", "\tappenX\t").getBytes("UTF-8") })
      .foreach { case (f, edit) =>
        val before = attrs(f)
        val bytes = edit(f)
        val raf = new java.io.RandomAccessFile(f, "rw")
        try raf.write(bytes) finally raf.close()
        Files.setLastModifiedTime(f.toPath, before.lastModifiedTime())
        attrs(f).size() shouldBe before.size()
      }
    AvroFileSource.parseSnapshots(AvroFileSource.snapshotsFile(d))
      .map(_.kind).distinct shouldBe Seq("appenX")
    AvroFileSource.readSnapshots(d).map(_.kind).distinct shouldBe Seq("append")
    AvroFileSource.readSnapshots(d).last.files should have size 5
    planned(dir, schema, 25L) shouldBe 1
    planned(dir, schema, 55L) shouldBe 1
  }
}
