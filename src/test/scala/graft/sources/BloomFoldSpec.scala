package graft.sources

import java.io.File

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Folded bloom entries: every `_graft_blooms` set is built at
  * [[AvroFileSource.BloomBits]] and folded at file close to the
  * narrowest power-of-two width that stays at most 1/8 full. Pinned here:
  *  - folding never adds a false negative, for equality and trigram
  *    sets from 1 to 10k distinct values;
  *  - a small file's entry is a few dozen bytes, not 4 KB;
  *  - manifests mixing unfolded (4 KB) and folded entries prune and
  *    answer correctly, across a further append and `analyze`;
  *  - an entry of any other width keeps its file.
  */
class BloomFoldSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bloomfold")

  private def isPow2(n: Int): Boolean = n > 0 && (n & (n - 1)) == 0

  private def bloomLines(d: File): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(AvroFileSource.bloomFile(d), "UTF-8")
    try src.getLines().map(_.split('\t')).toList finally src.close()
  }

  /** The file's entries for each column as decoded bit sets. */
  private def entries(d: File): Map[(String, String), Array[Long]] =
    bloomLines(d).map { case Array(_, col, dt, b64) =>
      (col, dt) -> AvroFileSource.decodeBloom(b64).getOrElse(
        fail(s"undecodable entry for $col ($dt)"))
    }.toMap

  private def value(n: Int, i: Int): String = s"v$n-${(i * 7919L) % 1000003}"

  test("folding never adds a false negative: equality and trigram sets, 1 to 10k values") {
    val widths = Seq(1, 10, 1000, 10000).map { n =>
      val dir = tmp()
      spark.range(0, n).toDF("k")
        .withColumn("s", F.concat(F.lit(s"v$n-"),
          ((F.col("k") * 7919L) % 1000003L).cast("string")))
        .coalesce(1)
        .write.format("graft-avro").option("bloomFor", "k,s")
        .option("trigramFor", "s").mode("overwrite").save(dir)
      val d = new File(dir)
      AvroFileSource.listAvro(d).size shouldBe 1
      val es = entries(d)
      es.keySet shouldBe Set(("k", "bigint"), ("s", "string"),
        ("s", AvroFileSource.TrigramTypeTag))
      es.values.foreach { bits =>
        isPow2(bits.length * 64) shouldBe true
        bits.length * 64 should be <= AvroFileSource.BloomBits
        // a folded set honours the fill rule; an unfolded one had no
        // narrower width that did
        if (bits.length * 64 < AvroFileSource.BloomBits)
          bits.map(java.lang.Long.bitCount).sum * 8 should be <=
            bits.length * 64
      }
      val k = es(("k", "bigint"))
      val s = es(("s", "string"))
      val t = es(("s", AvroFileSource.TrigramTypeTag))
      (0 until n).foreach { i =>
        val v = value(n, i)
        withClue(s"n=$n value $i: ") {
          AvroFileSource.probePass(k,
            AvroFileSource.bloomProbeEq(Seq(i.toLong.toString))) shouldBe true
          AvroFileSource.probePass(s,
            AvroFileSource.bloomProbeEq(Seq(v))) shouldBe true
          // every trigram of every written string
          AvroFileSource.probePass(t,
            AvroFileSource.bloomProbeSubstring(v)) shouldBe true
        }
      }
      if (n == 10) {
        val kLine = bloomLines(d).find(_(1) == "k").get.mkString("\t")
        kLine.getBytes("UTF-8").length should be <= 200
      }
      n -> k.length * 64
    }.toMap
    widths(1) shouldBe 64
    widths(1) should be <= widths(10)
    widths(10) should be <= widths(1000)
    // 10k values fill a 2^14 fold past 1/8: the set stays at build width
    widths(10000) shouldBe AvroFileSource.BloomBits
  }

  test("foldBloom ORs the upper half into the lower half and stops at the fill bound") {
    val full = new Array[Long](AvroFileSource.BloomBits / 64)
    AvroFileSource.foldBloom(full).length shouldBe 1 // empty: all the way
    full(full.length - 1) = 1L << 63 // the last bit of the build width
    AvroFileSource.foldBloom(full).toSeq shouldBe Seq(1L << 63)
    // 9 of 64 bits is past 1/8: a 128-bit set holding them stays put
    val wide = Array(0x1ffL, 0L)
    AvroFileSource.foldBloom(wide).toSeq shouldBe Seq(0x1ffL, 0L)
    AvroFileSource.foldBloom(Array(0xffL, 0L)).toSeq shouldBe Seq(0xffL)
  }

  /** 8 hash-scattered files; each key lives in exactly one. */
  private def writeScattered(dir: String): Unit =
    spark.range(0, 800).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartition(8, F.col("k"))
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("overwrite").save(dir)

  private def keysOf(f: File): Seq[Long] = {
    val r = new DataFileReader[GenericRecord](f,
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[Long]
      while (r.hasNext) out += r.next().get("k").asInstanceOf[Long]
      out.result()
    } finally r.close()
  }

  /** The unfolded 4 KB entry the writer emitted before sets folded. */
  private def legacyEntry(f: File): String = {
    val bits = new Array[Long](AvroFileSource.BloomBits / 64)
    keysOf(f).foreach(k => AvroFileSource.bloomAdd(bits, k.toString))
    AvroFileSource.encodeBloom(bits)
  }

  private def rewriteManifest(d: File, lines: Seq[Array[String]]): Unit =
    java.nio.file.Files.write(AvroFileSource.bloomFile(d).toPath,
      lines.map(_.mkString("\t")).mkString("\n").getBytes("UTF-8"))

  /** Per file, the keys whose lookup may skip it; asserts no key's own
    * file is ever dropped and returns the total files dropped.
    */
  private def checkPruning(dir: String, keys: Seq[Long]): Int = {
    val d = new File(dir)
    val schema = spark.read.format("graft-avro").load(dir).schema
    val owner: Map[Long, String] = AvroFileSource.listAvro(d).flatMap { f =>
      keysOf(f).map(_ -> f.getAbsolutePath)
    }.toMap
    keys.map { key =>
      val dropped = AvroFileSource.bloomDroppedFiles(
        AvroFileSource.bloomFile(d), d, schema,
        Map("k" -> Seq(AvroFileSource.bloomProbeEq(Seq(key.toString)))))
      withClue(s"key $key: ") { dropped should not contain owner(key) }
      dropped.size
    }.sum
  }

  test("mixed-width manifests: legacy 4 KB and folded entries prune side by side") {
    val dir = tmp()
    writeScattered(dir)
    val d = new File(dir)
    val files = AvroFileSource.listAvro(d).sortBy(_.getName)
    files.size shouldBe 8
    val legacy = files.take(4).map(f =>
      d.toPath.relativize(f.toPath).toString).toSet
    // the first four files' entries go back to the unfolded 4 KB form
    rewriteManifest(d, bloomLines(d).map {
      case Array(rel, col, dt, _) if legacy(rel) =>
        Array(rel, col, dt, legacyEntry(new File(d, rel)))
      case l => l
    })
    val widths = bloomLines(d).map(l =>
      java.util.Base64.getDecoder.decode(l(3)).length)
    widths.count(_ == AvroFileSource.BloomBits / 8) shouldBe 4
    widths.count(_ < AvroFileSource.BloomBits / 8) shouldBe 4
    val keys = 0L until 800L by 3
    // both widths prune: ~7 of 8 files dropped per lookup
    checkPruning(dir, keys) should be >= keys.size * 6
    val avro = spark.read.format("graft-avro").load(dir)
    Seq(0L, 41L, 399L, 799L).foreach(k =>
      avro.filter(F.col("k") === k).count() shouldBe 1)

    // a further append merges line for line: the legacy lines survive
    // byte-identical next to the new file's folded entry
    val before = bloomLines(d).map(_.mkString("\t")).toSet
    spark.range(10000, 10010).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1)
      .write.format("graft-avro").option("bloomFor", "k")
      .mode("append").save(dir)
    val after = bloomLines(d)
    after.map(_.mkString("\t")).toSet should contain allElementsOf before
    after.size shouldBe 9
    checkPruning(dir, keys ++ (10000L until 10010L)) should be >=
      (keys.size + 10) * 7
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") === 10004L).count() shouldBe 1

    // analyze without bloomFor leaves the mix alone; with it, every
    // entry is rebuilt folded — both still answer exactly
    AvroMaintenance.analyze(spark, dir)
    bloomLines(d).map(_.mkString("\t")).toSet shouldBe
      after.map(_.mkString("\t")).toSet
    checkPruning(dir, keys) should be >= keys.size * 7
    AvroMaintenance.analyze(spark, dir, bloomFor = Seq("k"))
    bloomLines(d).map(l =>
      java.util.Base64.getDecoder.decode(l(3)).length).max should be <
      AvroFileSource.BloomBits / 8
    checkPruning(dir, keys ++ (10000L until 10010L)) should be >=
      (keys.size + 10) * 7
    val again = spark.read.format("graft-avro").load(dir)
    Seq(7L, 500L, 10009L).foreach(k =>
      again.filter(F.col("k") === k).count() shouldBe 1)
    again.count() shouldBe 810
  }

  test("an entry of a width no writer emits keeps its file") {
    val dir = tmp()
    writeScattered(dir)
    val d = new File(dir)
    val lines = bloomLines(d)
    // 24 bytes: not a power of two. An all-zero payload would prune
    // every probe if it were decoded
    val zeros24 = java.util.Base64.getEncoder.encodeToString(new Array[Byte](24))
    val zeros8K = java.util.Base64.getEncoder.encodeToString(
      new Array[Byte](AvroFileSource.BloomBits / 4))
    val bad = lines.take(2).map(_(0)).toSet
    val badWidths = Map(lines(0)(0) -> zeros24, lines(1)(0) -> zeros8K)
    rewriteManifest(d, lines.map {
      case Array(rel, col, dt, _) if bad(rel) =>
        Array(rel, col, dt, badWidths(rel))
      case l => l
    })
    val schema = spark.read.format("graft-avro").load(dir).schema
    val dropped = AvroFileSource.bloomDroppedFiles(
      AvroFileSource.bloomFile(d), d, schema,
      Map("k" -> Seq(AvroFileSource.bloomProbeEq(Seq("123456789")))))
    // the six well-formed entries prune the absent key; the two
    // malformed ones are ignored, never read as "empty"
    dropped.size shouldBe 6
    bad.foreach(rel => dropped should not contain
      new File(d, rel).getAbsolutePath)
    checkPruning(dir, 0L until 800L by 5)
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") === 5L).count() shouldBe 1
  }
}
