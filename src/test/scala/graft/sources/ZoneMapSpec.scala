package graft.sources

import java.io.File

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Zone-map file skipping: every batch write records each file's
  * [min, max] of every column in the `_graft_zones_cols` manifest, and
  * a selective pushed predicate prunes whole files from
  * `planInputPartitions` — they are never opened. The 100 TB claim in
  * one sentence: a range-partitioned sorted table answers a selective
  * predicate by opening the overlapping files only, and these specs pin
  * (a) strictly-fewer-files, (b) unchanged answers, and (c) exact
  * metadata-served MIN/MAX only under full coverage.
  */
class ZoneMapSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_zones")

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    under.collect { case b: BatchScanExec => b }.head.inputPartitions.size
  }

  private def scanDescription(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    under.collectFirst { case b: BatchScanExec => b }.get.scan.description()
  }

  /** 10k rows over k = 0..9999, range-partitioned into 8 sorted files. */
  private def writeSorted(dir: String): Unit = {
    spark.range(0, 10000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(8, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
  }

  test("selective predicate on a sorted table opens strictly fewer files") {
    val dir = tmp()
    writeSorted(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    nFiles should be > 4 // range partitioning actually spread the data
    ZoneCells.coverAll(dir, "k") shouldBe true

    val all = spark.read.format("graft-avro").load(dir)
    scanPartitions(all) shouldBe nFiles

    // top-of-range predicate: only the last file's zone overlaps
    val top = all.filter(F.col("k") >= 9500)
    val topParts = scanPartitions(top)
    topParts should be < nFiles
    topParts should be >= 1
    top.count() shouldBe 500

    // point lookup: exactly one file's [min,max] contains the key
    val point = all.filter(F.col("k") === 1234)
    scanPartitions(point) shouldBe 1
    point.select("payload").head().getString(0) shouldBe
      spark.range(1234, 1235).select(F.md5(F.col("id").cast("string")))
        .head().getString(0)

    // a range straddling a file boundary keeps both files and all rows
    val mid = all.filter(F.col("k") >= 2400 && F.col("k") < 2600)
    scanPartitions(mid) should be < nFiles
    mid.count() shouldBe 200

    // IN-list prunes to the union of containing files
    val in = all.filter(F.col("k").isin(10, 9990))
    scanPartitions(in) should be <= 2
    in.count() shouldBe 2
  }

  test("zone pruning never changes answers (cross-checked vs in-memory truth)") {
    val dir = tmp()
    writeSorted(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    val truth = spark.range(0, 10000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
    for (pred <- Seq(
        F.col("k") < 3, F.col("k") > 9996, F.col("k") === 0,
        F.col("k") === 9999, F.col("k").between(4999, 5001),
        F.col("k") < 0, F.col("k") > 100000)) {
      val got = avro.filter(pred).agg(
        F.count(F.lit(1)), F.sum("k")).head()
      val want = truth.filter(pred).agg(
        F.count(F.lit(1)), F.sum("k")).head()
      got shouldBe want
    }
  }

  test("string zones prune equality and prefix predicates") {
    val dir = tmp()
    spark.range(0, 2600).toDF("i")
      // aa, ab, ..., zz: two-letter keys in sorted order, 26 per letter
      .selectExpr("char(97 + CAST(i / 100 AS INT)) || " +
        "char(97 + CAST(i / 4 AS INT) % 25) AS s", "i AS v")
      .repartitionByRange(6, F.col("s"), F.col("v"))
      .sortWithinPartitions("s", "v")
      .write.format("graft-avro").option("sortedBy", "s")
      .mode("overwrite").save(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    val avro = spark.read.format("graft-avro").load(dir)
    val eq = avro.filter(F.col("s") === "aa")
    scanPartitions(eq) should be < nFiles
    eq.count() shouldBe 4
    val pre = avro.filter(F.col("s").startsWith("z"))
    scanPartitions(pre) should be < nFiles
    pre.count() shouldBe 100
  }

  test("string zones use UTF-8 byte order (supplementary chars vs U+E000)") {
    // Spark sorts strings by UTF8String binary (code-point) order:
    // U+E000 < U+10000. UTF-16 code-unit order says the opposite (the
    // surrogate pair 0xD800,0xDC00 < 0xE000) — a String.compareTo-based
    // zone would mis-verify this sorted write and could wrongly prune
    // files whose bounds straddle the divergence.
    val dir = tmp()
    val sup = new String(Character.toChars(0x10000)) // U+10000
    val pua = "\uE000" // BMP private-use, between surrogates and FFFF
    spark.createDataFrame(Seq(
        ("a", 1L), ("b", 2L), (pua, 3L), (sup, 4L), (sup + "z", 5L)))
      .toDF("s", "v")
      .repartitionByRange(3, F.col("s"))
      .sortWithinPartitions("s")
      .write.format("graft-avro").option("sortedBy", "s")
      .mode("overwrite").save(dir)
    AvroFileSource.sortMarker(new File(dir)) should exist // verified
    val avro = spark.read.format("graft-avro").load(dir)
    // every row stays findable through zone pruning
    avro.filter(F.col("s") === sup).count() shouldBe 1
    avro.filter(F.col("s") === pua).count() shouldBe 1
    avro.filter(F.col("s") > pua).count() shouldBe 2
    avro.count() shouldBe 5
  }

  test("nulls sort first, stay outside the zone, and are never lost") {
    val dir = tmp()
    spark.range(0, 1000).toDF("i")
      .selectExpr("CASE WHEN i < 50 THEN NULL ELSE i END AS k", "i AS v")
      .repartitionByRange(4, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    avro.filter(F.col("k").isNull).count() shouldBe 50
    avro.filter(F.col("k").isNotNull).count() shouldBe 950
    avro.filter(F.col("k") >= 990).count() shouldBe 10
  }

  test("zone pruning composes with hive partition-directory pruning") {
    val dir = tmp()
    spark.range(0, 8000).toDF("k")
      .withColumn("p", F.when(F.pmod(F.col("k"), F.lit(2)) === 0, "even")
        .otherwise("odd"))
      .repartitionByRange(4, F.col("k"))
      .sortWithinPartitions("k") // order-preserving routing: each
      // partition-dir file receives a k-sorted subsequence, so the
      // per-sub OrderVerifier stamps zones under BOTH partition dirs
      .write.format("graft-avro")
      .option("partitionBy", "p").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    nFiles should be >= 8 // 4 range tasks x 2 partition values
    val avro = spark.read.format("graft-avro").load(dir)
    val q = avro.filter(F.col("p") === "even" && F.col("k") >= 7000)
    // directory pruning alone leaves half the files; the zone manifest
    // must cut within the surviving directory too
    scanPartitions(q) should be < nFiles / 2
    q.count() shouldBe 500
    q.agg(F.sum("k")).head().getLong(0) shouldBe
      (7000L until 8000L).filter(_ % 2 == 0).sum
  }

  test("min/max of the sort column is served from the manifest, zero files opened") {
    val dir = tmp()
    writeSorted(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    val agg = avro.agg(F.min("k"), F.max("k"))
    // the pushed aggregate is visible in the plan...
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = agg.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    val scan = under.collectFirst { case b: BatchScanExec => b }.get
    scan.scan.description() should include("PushedAggregation: [MIN(k), MAX(k)]")
    agg.head() shouldBe org.apache.spark.sql.Row(0L, 9999L)

    // ...and the proof it never opens data files: truncate every .avro
    // to a single byte (any read attempt would throw) — the manifest
    // still answers
    AvroFileSource.listAvro(new File(dir)).foreach { f =>
      val ch = new java.io.RandomAccessFile(f, "rw")
      try ch.setLength(1) finally ch.close()
    }
    spark.read.format("graft-avro").schema(avro.schema).load(dir)
      .agg(F.min("k"), F.max("k"))
      .head() shouldBe org.apache.spark.sql.Row(0L, 9999L)
  }

  test("min/max falls back to a real scan when the column or manifest does not qualify") {
    val dir = tmp()
    writeSorted(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    // non-sort column: must NOT be served from the manifest — and must
    // still be correct (md5 payloads: compare against recomputed truth)
    val truth = spark.range(0, 10000)
      .select(F.md5(F.col("id").cast("string")).as("payload"))
      .agg(F.min("payload"), F.max("payload")).head()
    avro.agg(F.min("payload"), F.max("payload")).head() shouldBe truth
    // mixed with count: rejected (count needs block headers) — correct
    avro.agg(F.min("k"), F.count(F.lit(1))).head() shouldBe
      org.apache.spark.sql.Row(0L, 10000L)
    // a filter forces the real scan path
    avro.filter(F.col("k") >= 9000).agg(F.min("k")).head() shouldBe
      org.apache.spark.sql.Row(9000L)
  }

  test("an unsorted append withdraws the sorted claim; col zones keep pruning") {
    val dir = tmp()
    writeSorted(dir)
    AvroFileSource.sortMarker(new File(dir)) should exist
    // append WITHOUT sortedBy: the layout claim must go — no more
    // outputOrdering
    spark.range(20000, 20010).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .write.format("graft-avro").mode("append").save(dir)
    new File(dir, "_graft_sorted_by") shouldNot exist
    // ...but per-file column bounds don't depend on sortedness: the
    // all-column manifest survives the append and still prunes
    new File(dir, "_graft_zones_cols") should exist
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    scanPartitions(avro.filter(F.col("k") >= 9500)) should be < nFiles
    avro.filter(F.col("k") >= 9500).count() shouldBe 510
    avro.agg(F.min("k"), F.max("k")).head() shouldBe
      org.apache.spark.sql.Row(0L, 20009L)
  }

  test("a legacy sorted table scans until analyze backfills its zones") {
    val dir = tmp()
    writeSorted(dir)
    // simulate a table written before `_graft_zones_cols` existed: the
    // sort marker survives but no zone manifest covers the files
    new File(dir, "_graft_zones_cols").delete() shouldBe true
    spark.range(10000, 12000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(2, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("append").save(dir)
    // the agreeing append keeps the layout claim, and the manifest now
    // covers only its own files: metadata-served MIN/MAX over it would
    // silently ignore the legacy files
    new File(dir, "_graft_sorted_by") should exist
    ZoneCells.coverAll(dir, "k") shouldBe false
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    // min lives in an uncovered legacy file: the real scan must find it
    val agg = avro.agg(F.min("k"), F.max("k"))
    scanDescription(agg) should not include "PushedAggregation"
    agg.head() shouldBe org.apache.spark.sql.Row(0L, 11999L)
    // uncovered legacy files scan; the appended ones prune
    val q = avro.filter(F.col("k") < 100)
    scanPartitions(q) shouldBe nFiles - 2
    q.count() shouldBe 100
    // analyze backfills the legacy files: pruning and metadata MIN/MAX
    AvroMaintenance.analyze(spark, dir)
    ZoneCells.coverAll(dir, "k") shouldBe true
    val again = spark.read.format("graft-avro").load(dir)
    scanPartitions(again.filter(F.col("k") < 100)) shouldBe 1
    val agg2 = again.agg(F.min("k"), F.max("k"))
    scanDescription(agg2) should include("PushedAggregation")
    agg2.head() shouldBe org.apache.spark.sql.Row(0L, 11999L)
  }

  test("int cells keep pruning and serving MIN/MAX after a widen to bigint") {
    val dir = tmp()
    spark.range(0, 10000).select(F.col("id").cast("int").as("k"))
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(8, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    nFiles shouldBe 8
    AvroMaintenance.widenColumn(dir, "k",
      org.apache.spark.sql.types.LongType)
    val avro = spark.read.format("graft-avro").load(dir)
    avro.schema("k").dataType shouldBe org.apache.spark.sql.types.LongType
    // the pre-widen files' cells carry the `int` tag: still exact bounds
    val point = avro.filter(F.col("k") === 1234L)
    scanPartitions(point) shouldBe 1
    point.count() shouldBe 1
    val agg = avro.agg(F.min("k"), F.max("k"))
    scanDescription(agg) should include("PushedAggregation: [MIN(k), MAX(k)]")
    agg.head() shouldBe org.apache.spark.sql.Row(0L, 9999L)
  }

  test("a leftover _graft_zones file is never read") {
    val dir = tmp()
    writeSorted(dir) // v1
    val d = new File(dir)
    val base = d.getAbsoluteFile.toPath
    // the sort-zone sidecar of older writers, with bounds that exclude
    // every row: trusted, it would prune every file and forge MIN/MAX
    java.nio.file.Files.write(new File(d, "_graft_zones").toPath,
      AvroFileSource.listAvro(d)
        .map(f => base.relativize(f.getAbsoluteFile.toPath).toString)
        .sorted.map(rel => s"$rel\t-9\t-1").mkString("\n")
        .getBytes("UTF-8"))
    def check(path: String, rows: Long, max: Long): Unit = {
      val avro = spark.read.format("graft-avro").load(path)
      val point = avro.filter(F.col("k") === 1234)
      scanPartitions(point) shouldBe 1
      point.count() shouldBe 1
      avro.filter(F.col("k") >= 9500).count() shouldBe rows - 9500
      val agg = avro.agg(F.min("k"), F.max("k"))
      scanDescription(agg) should include("PushedAggregation")
      agg.head() shouldBe org.apache.spark.sql.Row(0L, max)
    }
    check(dir, 10000, 9999)
    val cl = new File(tmp(), "clone").getPath
    AvroMaintenance.cloneTo(dir, cl) shouldBe AvroFileSource.listAvro(d).size
    check(cl, 10000, 9999)
    AvroMaintenance.createBranch(dir, "b")
    spark.range(10000, 10010).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .coalesce(1).write.format("graft-avro").option("branch", "b")
      .mode("append").save(dir)
    AvroMaintenance.publishBranch(dir, "b") // v2
    check(dir, 10010, 10009)
    AvroMaintenance.rollbackTo(dir, 1L)
    spark.read.format("graft-avro").load(dir).count() shouldBe 10000
    spark.read.format("graft-avro").load(dir)
      .filter(F.col("k") === 1234).count() shouldBe 1
  }

  test("double sort column: NaN-unsafe min/max is never served from metadata") {
    // layer 1: the write builder refuses a float/double sortedBy claim
    // outright (NaN defeats pairwise order verification), so no manifest
    // for such a column can ever be produced by this writer
    val dir = tmp()
    val nan = spark.range(0, 100).toDF("i")
      .selectExpr("CASE WHEN i = 99 THEN CAST('NaN' AS DOUBLE) " +
        "ELSE CAST(i AS DOUBLE) END AS d")
      .repartitionByRange(2, F.col("d"))
      .sortWithinPartitions("d") // Spark sorts NaN greatest
    val e = intercept[Exception] {
      nan.write.format("graft-avro").option("sortedBy", "d")
        .mode("overwrite").save(dir)
    }
    e.getMessage should include("sortedBy does not support double")

    // layer 2 (defense in depth): even with a hand-placed marker and
    // finite zone cells for the double column on EVERY file (the NaN
    // file's leaf went dead, so the writer gives it none),
    // pushAggregation withholds the metadata-served MIN/MAX — a real
    // scan keeps the NaN max the cells would drop
    val dir2 = tmp()
    nan.write.format("graft-avro").mode("overwrite").save(dir2)
    java.nio.file.Files.write(new File(dir2, "_graft_sorted_by").toPath,
      "d".getBytes("UTF-8"))
    val base = new File(dir2).getAbsoluteFile.toPath
    val zf = new File(dir2, "_graft_zones_cols")
    val kept = scala.io.Source.fromFile(zf, "UTF-8").getLines()
      .filterNot(_.split('\t').slice(1, 3).sameElements(Seq("d", "double")))
      .toSeq
    val forged = AvroFileSource.listAvro(new File(dir2))
      .map(f => base.relativize(f.getAbsoluteFile.toPath).toString)
      .map(rel => s"$rel\td\tdouble\t0.0\t50.0")
    java.nio.file.Files.write(zf.toPath,
      (kept ++ forged).sorted.mkString("\n").getBytes("UTF-8"))
    ZoneCells.coverAll(dir2, "d") shouldBe true
    val agg = spark.read.format("graft-avro").load(dir2)
      .agg(F.min("d"), F.max("d"))
    scanDescription(agg) should not include "PushedAggregation"
    val row = agg.head()
    row.getDouble(0) shouldBe 0.0
    row.getDouble(1).isNaN shouldBe true
  }

  test("all-column zones prune a non-sort column on an UNSORTED table") {
    val dir = tmp()
    spark.range(0, 10000).toDF("k")
      .withColumn("v", F.col("k") * 3)
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(8, F.col("k"))
      .write.format("graft-avro") // NO sortedBy claim
      .mode("overwrite").save(dir)
    new File(dir, "_graft_sorted_by") shouldNot exist
    new File(dir, "_graft_zones_cols") should exist
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    nFiles should be > 4
    val avro = spark.read.format("graft-avro").load(dir)
    // k is range-partitioned but UNVERIFIED-sorted: the per-file
    // min/max still bounds it, so the predicate prunes whole files
    val top = avro.filter(F.col("k") >= 9500)
    scanPartitions(top) should be < nFiles
    top.count() shouldBe 500
    // ...and so does the derived column v = 3k, which no sort marker
    // ever covered
    val vs = avro.filter(F.col("v") < 300)
    scanPartitions(vs) should be < nFiles
    vs.count() shouldBe 100
    vs.agg(F.sum("k")).head().getLong(0) shouldBe (0L until 100L).sum
  }

  test("all-column zones prune non-sort columns of a sorted table too") {
    val dir = tmp()
    spark.range(0, 10000).toDF("k")
      .withColumn("v", F.col("k") * 2) // correlated with the file layout
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(8, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    val avro = spark.read.format("graft-avro").load(dir)
    val q = avro.filter(F.col("v") >= 19000) // not the sort column
    scanPartitions(q) should be < nFiles
    q.count() shouldBe 500
    // zones compose across columns: k AND v
    val both = avro.filter(F.col("k") >= 4000 && F.col("v") < 10000)
    scanPartitions(both) should be < nFiles
    both.count() shouldBe 1000
  }

  test("all-column zones cover nested struct leaves via dotted paths") {
    val dir = tmp()
    spark.range(0, 8000).toDF("k")
      .withColumn("s", F.struct(F.col("k").as("a"),
        F.md5(F.col("k").cast("string")).as("b")))
      .repartitionByRange(4, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    val avro = spark.read.format("graft-avro").load(dir)
    val q = avro.filter(F.col("s.a") >= 7500)
    scanPartitions(q) should be < nFiles
    q.count() shouldBe 500
  }

  test("a retyped column's stale zone entries stop applying") {
    val dir = tmp()
    spark.range(0, 1000).toDF("x")
      .repartitionByRange(4, F.col("x"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val zf = new File(dir, "_graft_zones_cols")
    zf should exist
    // simulate a schema change the manifest predates: claim the entries
    // were written for a STRING column ("9" > "10" in string order — an
    // inverted range that would prune wrongly if trusted)
    val doctored = scala.io.Source.fromFile(zf, "UTF-8").getLines()
      .map(_.replace("\tbigint\t", "\tstring\t")).mkString("\n")
    java.nio.file.Files.write(zf.toPath, doctored.getBytes("UTF-8"))
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    // type mismatch ⇒ entries dropped ⇒ no pruning, answers intact
    scanPartitions(avro.filter(F.col("x") === 50)) shouldBe nFiles
    avro.filter(F.col("x") === 50).count() shouldBe 1
    avro.count() shouldBe 1000
  }

  test("double columns with NaN emit no zone entry and are never pruned") {
    val dir = tmp()
    spark.range(0, 1000).toDF("k")
      .withColumn("d", F.when(F.col("k") === 999,
        F.lit(Double.NaN)).otherwise(F.col("k").cast("double")))
      .repartitionByRange(4, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    // the NaN file's d-leaf went dead; finite files still carry bounds.
    // Spark compares NaN greatest: d > 990 matches 991..998 AND NaN
    avro.filter(F.col("d") > 990).count() shouldBe 9
    // k (long) still prunes in the same table
    scanPartitions(avro.filter(F.col("k") < 100)) should be < nFiles
    avro.filter(F.col("k") < 100).count() shouldBe 100
  }

  test("min/max of ANY covered column serves from the col manifest, zero opens") {
    val dir = tmp()
    spark.range(0, 10000).toDF("k")
      .withColumn("v", F.pmod(F.col("k") * 7, F.lit(1000)))
      .withColumn("s", F.substring(F.md5(F.col("k").cast("string")), 1, 8))
      .withColumn("nl", F.when(F.col("k") < 0, F.col("k"))) // all-null col
      .repartitionByRange(6, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir) // UNSORTED
    val avro = spark.read.format("graft-avro").load(dir)
    val agg = avro.agg(F.min("k"), F.max("k"), F.max("v"), F.min("s"),
      F.max("nl"))
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = agg.queryExecution.executedPlan
    val under = root.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(root)
    val scan = under.collectFirst { case b: BatchScanExec => b }.get
    scan.scan.description() should include("PushedAggregation")
    val truth = spark.range(0, 10000).toDF("k")
      .withColumn("v", F.pmod(F.col("k") * 7, F.lit(1000)))
      .withColumn("s", F.substring(F.md5(F.col("k").cast("string")), 1, 8))
      .agg(F.min("k"), F.max("k"), F.max("v"), F.min("s")).head()
    val row = agg.head()
    (0 to 3).foreach(i => row.get(i) shouldBe truth.get(i))
    row.isNullAt(4) shouldBe true // all-null column -> SQL null
    // proof no data file is opened: truncate them all, ask again
    AvroFileSource.listAvro(new File(dir)).foreach { f =>
      val ch = new java.io.RandomAccessFile(f, "rw")
      try ch.setLength(1) finally ch.close()
    }
    spark.read.format("graft-avro").schema(avro.schema).load(dir)
      .agg(F.min("k"), F.max("v")).head() shouldBe
      org.apache.spark.sql.Row(truth.get(0), truth.get(2))
  }

  test("a literal '__null__' value never masquerades as the all-null marker") {
    val dir = tmp()
    spark.range(0, 100).toDF("k")
      .selectExpr("CASE WHEN k = 0 THEN '__null__' ELSE " +
        "concat('v', lpad(cast(k AS string), 3, '0')) END AS s", "k")
      .repartitionByRange(2, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    // '_' (0x5F) < 'v': the literal string IS the true min — an
    // unescaped bound would be mistaken for the all-null coverage
    // marker, the file's bounds dropped, and the metadata-served MIN
    // would wrongly come from the other file
    avro.agg(F.min("s"), F.max("s")).head() shouldBe
      org.apache.spark.sql.Row("__null__", "v099")
    avro.filter(F.col("s") === "__null__").count() shouldBe 1
  }

  test("an all-empty-string file keeps its zone line: min/max and pruning") {
    // the all-"" file's zone line ends in an empty field ("" encodes to
    // ""): a line split that drops trailing empty fields would lose it
    val dir = tmp()
    Seq(Seq("", "", ""), Seq("a", "b")).zipWithIndex.foreach { case (vs, i) =>
      spark.createDataFrame(vs.map(Tuple1(_))).toDF("s").coalesce(1)
        .write.format("graft-avro")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val avro = spark.read.format("graft-avro").load(dir)
    val q = avro.filter(F.col("s") > "")
    scanPartitions(q) shouldBe 1
    q.count() shouldBe 2
    val agg = avro.agg(F.min("s"), F.max("s"))
    scanDescription(agg) should include("PushedAggregation")
    agg.head() shouldBe org.apache.spark.sql.Row("", "b")
  }

  test("any-column min/max falls back without full coverage or exact strings") {
    val dir = tmp()
    spark.range(0, 1000).toDF("k")
      // strings AT/over the 64-char truncation cap: maybe-truncated
      .withColumn("big", F.rpad(F.col("k").cast("string"), 80, "z"))
      .repartitionByRange(3, F.col("k"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val avro = spark.read.format("graft-avro").load(dir)
    // truncated bounds are inexact: the real scan must answer
    val truth = spark.range(0, 1000)
      .select(F.rpad(F.col("id").cast("string"), 80, "z").as("big"))
      .agg(F.min("big"), F.max("big")).head()
    avro.agg(F.min("big"), F.max("big")).head() shouldBe truth
    // drop one file's manifest lines: coverage broken -> fallback, still
    // correct
    val zf = new File(dir, "_graft_zones_cols")
    val lines = scala.io.Source.fromFile(zf, "UTF-8").getLines().toSeq
    val firstRel = lines.head.split('\t').head
    java.nio.file.Files.write(zf.toPath,
      lines.filterNot(_.startsWith(firstRel)).mkString("\n").getBytes("UTF-8"))
    avro.agg(F.min("k"), F.max("k")).head() shouldBe
      org.apache.spark.sql.Row(0L, 999L)
  }

  test("long string bounds truncate in the manifest; pruning stays sound") {
    val dir = tmp()
    // 600-char strings whose ORDER is decided in the first few chars
    // (prunable) and a second flavor sharing a 100-char prefix (bounds
    // truncate into the shared prefix — must widen, never mis-prune)
    spark.range(0, 2000).toDF("i")
      .selectExpr(
        "concat(format_string('%04d', CAST(i AS INT)), repeat('x', 596)) AS s",
        "concat(repeat('p', 100), format_string('%04d', CAST(i AS INT))) AS t",
        "i AS v")
      .repartitionByRange(4, F.col("v"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val zf = new File(dir, "_graft_zones_cols")
    zf should exist
    // no manifest line may carry a full 600-char body (64-char cap + tab
    // fields + URL encoding stays well under 400)
    val maxLine = scala.io.Source.fromFile(zf, "UTF-8").getLines()
      .map(_.length).max
    maxLine should be < 400
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    // prefix-distinct column still prunes on the truncated bounds
    val q = avro.filter(F.col("s") === ("1500" + "x" * 596))
    scanPartitions(q) should be < nFiles
    q.count() shouldBe 1
    // shared-prefix column: truncated bounds are wide, answers intact
    avro.filter(F.col("t") === ("p" * 100 + "0042")).count() shouldBe 1
    avro.filter(F.col("t") > ("p" * 100 + "1989")).count() shouldBe 10
  }

  test("long SORT-column strings: manifest truncates, min/max falls back exact") {
    val dir = tmp()
    // 300-char sort keys, order decided in the first 4 chars
    spark.range(0, 2000).toDF("i")
      .selectExpr(
        "concat(format_string('%04d', CAST(i AS INT)), repeat('y', 296)) AS s",
        "i AS v")
      .repartitionByRange(4, F.col("s"))
      .sortWithinPartitions("s")
      .write.format("graft-avro").option("sortedBy", "s")
      .mode("overwrite").save(dir)
    val zf = new File(dir, "_graft_zones_cols")
    zf should exist
    scala.io.Source.fromFile(zf, "UTF-8").getLines()
      .map(_.length).max should be < 400
    val avro = spark.read.format("graft-avro").load(dir)
    val nFiles = AvroFileSource.listAvro(new File(dir)).size
    // truncated sort zones still prune selective predicates
    val q = avro.filter(F.col("s") >= "1900")
    scanPartitions(q) should be < nFiles
    q.count() shouldBe 100
    // maybe-truncated bounds must NOT serve min/max from metadata: the
    // real scan answers with the exact full-length values
    avro.agg(F.min("s"), F.max("s")).head() shouldBe
      org.apache.spark.sql.Row("0000" + "y" * 296, "1999" + "y" * 296)
  }

  test("an agreeing sorted append merges zones and still prunes") {
    val dir = tmp()
    writeSorted(dir)
    val before = AvroFileSource.listAvro(new File(dir)).size
    spark.range(10000, 12000).toDF("k")
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .repartitionByRange(2, F.col("k"))
      .sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("append").save(dir)
    val after = AvroFileSource.listAvro(new File(dir)).size
    after should be > before
    val avro = spark.read.format("graft-avro").load(dir)
    // old-range predicate: the appended files' zones exclude them
    val old = avro.filter(F.col("k") < 100)
    scanPartitions(old) should be < after
    old.count() shouldBe 100
    // new-range predicate stays correct
    avro.filter(F.col("k") >= 11000).count() shouldBe 1000
  }

  test("runtime join-key IN-sets prune whole files via column zones") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val dir = tmp()
    // four UNPARTITIONED, UNSORTED files with disjoint k ranges — only
    // the all-column zone manifest knows the ranges
    (0 until 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 100).toDF("k")
        .withColumn("payload", F.md5(F.col("k").cast("string")))
        .coalesce(1)
        .write.format("graft-avro")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val schema = spark.read.format("graft-avro").load(dir).schema
    val scan = new AvroScanBuilder(dir, schema).build()
    val rt = scan.asInstanceOf[SupportsRuntimeV2Filtering]
    // k is declared runtime-filterable purely via its zone coverage
    rt.filterAttributes().map(_.fieldNames().mkString(".")) should
      contain("k")
    scan.toBatch.planInputPartitions().length shouldBe 4
    // join-key IN-set {5, 142}: files 2 and 3 can't match — skipped
    rt.filter(Array(new Predicate("IN", Array[
        org.apache.spark.sql.connector.expressions.Expression](
      Expressions.column("k"),
      Expressions.literal(5L), Expressions.literal(142L)))))
    scan.toBatch.planInputPartitions().length shouldBe 2
    // values outside every zone prune ALL files
    rt.filter(Array(new Predicate("IN", Array[
        org.apache.spark.sql.connector.expressions.Expression](
      Expressions.column("k"), Expressions.literal(9999L)))))
    scan.toBatch.planInputPartitions().length shouldBe 0
  }

  test("runtime zone pruning keeps broadcast-join answers exact") {
    import spark.implicits._
    val dir = tmp()
    (0 until 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 100).toDF("k")
        .withColumn("payload", F.md5(F.col("k").cast("string")))
        .coalesce(1)
        .write.format("graft-avro")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val fact = spark.read.format("graft-avro").load(dir)
    val dim = Seq(7L, 42L, 205L, 399L).toDF("j")
    val joined = fact.join(F.broadcast(dim), fact("k") === dim("j"))
    // Spark injects the runtime filter for the declared attribute
    joined.queryExecution.executedPlan.toString should
      include("RuntimeFilters: [")
    joined.select("k").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(7L, 42L, 205L, 399L)
  }
}
