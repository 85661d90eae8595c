package graft.sources

import java.io.File

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Branches (write-audit-publish) for graft-avro. Pinned here:
  *
  *  - staging writes land in the overlay only: main's answers are
  *    byte-identical until publish;
  *  - a branch read serves main-at-fork ∪ overlay (the exact state a
  *    publish would produce), applying the FORK version's deletes to
  *    main files but never version-stamped deletes to branch appends;
  *  - publish is fast-forward-only, moves files (no rewrite), commits
  *    ONE snapshot, and the staged rows arrive as a clean incremental
  *    changeset (fromVersion = fork);
  *  - additive manifests (rows, col-zones) survive publish; the sort
  *    claim does not (unverified append); publish appends every
  *    stats sidecar verbatim, clone copies all five, and rollback drops
  *    all five;
  *  - append-only contract: branch overwrite and overlay delete
  *    sidecars fail loudly; drop abandons everything.
  */
class AvroBranchSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_branch")

  private def writeRange(dir: String, lo: Int, hi: Int, mode: String,
      branch: Option[String] = None): Unit = {
    val w = spark.range(lo, hi).toDF("k")
      .withColumn("grp", (F.col("k") % 5).cast("int"))
      .repartition(2)
      .write.format("graft-avro").mode(mode)
    branch.fold(w)(b => w.option("branch", b)).save(dir)
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  private def readBranch(dir: String, b: String) =
    spark.read.format("graft-avro").option("branch", b).load(dir)

  test("staged writes are invisible to main; branch read is the union") {
    val dir = tmp()
    writeRange(dir, 0, 100, "overwrite")                      // v1
    val forkV = AvroMaintenance.createBranch(dir, "audit")
    forkV shouldBe 1L
    writeRange(dir, 100, 150, "append", Some("audit"))
    writeRange(dir, 150, 180, "append", Some("audit"))

    keys(spark.read.format("graft-avro").load(dir)) shouldBe
      (0L until 100).toSet // main untouched
    keys(readBranch(dir, "audit")) shouldBe (0L until 180).toSet
    // overlay is a real table dir with its own journal
    AvroFileSource.readSnapshots(
      AvroFileSource.branchDir(new File(dir), "audit")).size shouldBe 2
  }

  test("publish is atomic, fast-forward-only, and CDC-clean") {
    val dir = tmp()
    writeRange(dir, 0, 60, "overwrite")                       // v1
    val forkV = AvroMaintenance.createBranch(dir, "wap")
    writeRange(dir, 60, 90, "append", Some("wap"))
    val staged = keys(readBranch(dir, "wap"))

    val newV = AvroMaintenance.publishBranch(dir, "wap")
    newV shouldBe forkV + 1
    keys(spark.read.format("graft-avro").load(dir)) shouldBe staged
    // exactly ONE new version whose incremental changeset is the staged rows
    val inc = spark.read.format("graft-avro")
      .option("fromVersion", forkV).load(dir)
    keys(inc) shouldBe (60L until 90).toSet
    // branch consumed: overlay and ref gone
    AvroFileSource.branchDir(new File(dir), "wap").exists() shouldBe false
    AvroFileSource.readRefs(new File(dir)).contains("branch/wap") shouldBe false

    // non-fast-forward: main advanced after fork
    AvroMaintenance.createBranch(dir, "stale")
    writeRange(dir, 90, 95, "append") // main moves on
    writeRange(dir, 200, 210, "append", Some("stale"))
    val e = intercept[IllegalArgumentException] {
      AvroMaintenance.publishBranch(dir, "stale")
    }
    e.getMessage should include("non-fast-forward")
  }

  test("fork deletes apply to main files, never to branch appends") {
    val dir = tmp()
    writeRange(dir, 0, 50, "overwrite")                       // v1
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(7L, 8L)) // v2 (stamped 2)
    AvroMaintenance.createBranch(dir, "re")
    // branch re-appends one deleted key: born after the stamp, it lives
    writeRange(dir, 7, 8, "append", Some("re"))
    val got = keys(readBranch(dir, "re"))
    got should contain(7L)
    got should not contain 8L
    (0L until 50).filterNot(Set(7L, 8L)).foreach(k => got should contain(k))

    AvroMaintenance.publishBranch(dir, "re")
    val after = keys(spark.read.format("graft-avro").load(dir))
    after should contain(7L)
    after should not contain 8L
  }

  test("branchChanges: the overlay's audit feed, pinned at the fork") {
    val dir = tmp()
    writeRange(dir, 0, 50, "overwrite") // v1
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(3L)) // v2 (stamped)
    val forkV = AvroMaintenance.createBranch(dir, "feed")
    writeRange(dir, 100, 130, "append", Some("feed"))
    writeRange(dir, 3, 4, "append", Some("feed")) // re-appends a deleted key
    val feed = AvroMaintenance.branchChanges(spark, dir, "feed")
    feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq shouldBe Seq("insert")
    feed.select("_commit_version").distinct().head().getLong(0) shouldBe forkV
    // exactly the staged rows — main's rows never appear, and the
    // re-appended key 3 IS in the feed (fork deletes never touch
    // overlay rows)
    keys(feed.drop("_change_type", "_commit_version")) shouldBe
      ((100L until 130).toSet + 3L)
    // 100 TB shape: the feed PLANS only the overlay's files — main's
    // bulk is never scanned and discarded (partition count = staged
    // files, strictly fewer than the union read's)
    val unionParts = readBranch(dir, "feed").rdd.getNumPartitions
    val overlayFiles = AvroFileSource.listAvro(
      AvroFileSource.branchDir(new java.io.File(dir), "feed")).size
    feed.rdd.getNumPartitions shouldBe overlayFiles
    feed.rdd.getNumPartitions should be < unionParts
    // cross-branch version range: main advances past the fork — the
    // overlay's base is stale, the feed refuses like publish would
    writeRange(dir, 50, 55, "append") // main moves on
    val e = intercept[IllegalArgumentException] {
      AvroMaintenance.branchChanges(spark, dir, "feed")
    }
    e.getMessage should include("cross-branch version range")
    // unknown branches refuse via fork resolution
    intercept[IllegalArgumentException] {
      AvroMaintenance.branchChanges(spark, dir, "nope")
    }
  }

  test("append-only contract and audit-then-drop") {
    val dir = tmp()
    writeRange(dir, 0, 40, "overwrite")
    AvroMaintenance.createBranch(dir, "b")
    // branch overwrite refused
    intercept[IllegalArgumentException] {
      writeRange(dir, 0, 10, "overwrite", Some("b"))
    }.getMessage should include("append-only")
    // overlay delete sidecar poisons the branch read
    writeRange(dir, 40, 45, "append", Some("b"))
    val bd = AvroFileSource.branchDir(new File(dir), "b")
    java.nio.file.Files.write(
      AvroFileSource.deleteFile(bd).toPath, "junk\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      readBranch(dir, "b").count()
    }.getMessage should include("append-only")
    AvroFileSource.deleteFile(bd).delete()

    // audit fails → drop; main never saw anything
    AvroMaintenance.dropBranch(dir, "b")
    AvroFileSource.branchDir(new File(dir), "b").exists() shouldBe false
    keys(spark.read.format("graft-avro").load(dir)) shouldBe (0L until 40).toSet
    // unknown-branch read and write fail loudly
    intercept[IllegalArgumentException] {
      readBranch(dir, "nope").count()
    }
    intercept[IllegalArgumentException] {
      writeRange(dir, 0, 1, "append", Some("nope"))
    }
  }

  test("manifests: additive stats survive publish, sort claim does not") {
    val dir = tmp()
    spark.range(0, 80).toDF("k")
      .withColumn("grp", (F.col("k") % 5).cast("int"))
      .orderBy("k").coalesce(1)
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    AvroFileSource.sortMarker(new File(dir)).isFile shouldBe true

    AvroMaintenance.createBranch(dir, "m")
    writeRange(dir, 80, 120, "append", Some("m"))
    AvroMaintenance.publishBranch(dir, "m")

    // sort claim withdrawn
    AvroFileSource.sortMarker(new File(dir)).isFile shouldBe false
    // row-count manifest covers ALL live files post-publish → exact rows
    val d = new File(dir)
    val rows = AvroFileSource.readRowsRaw(AvroFileSource.rowsFile(d))
    val base = d.getAbsoluteFile.toPath
    val live = AvroFileSource.listAvro(d)
      .map(f => base.relativize(f.getAbsoluteFile.toPath).toString)
    live.foreach(rel => rows.keySet should contain(rel))
    rows.values.sum shouldBe 120L
    // all-column zones cover the published files too
    val zones = ZoneIndex.of(d,
      spark.read.format("graft-avro").load(dir).schema)
    val covered = zones.columns.flatMap(zones.boundsOf(_).keySet).toSet
    live.foreach(rel =>
      covered should contain(new File(d, rel).getAbsolutePath))
  }

  test("publish appends, clone copies and rollback drops every stats " +
      "sidecar") {
    val dir = tmp()
    val d = new File(dir)
    def bytes(f: File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def write(lo: Long, hi: Long, mode: String,
        branch: Option[String] = None): Unit = {
      val w = spark.range(lo, hi).toDF("k")
        .withColumn("s", F.concat(F.lit("v"), F.col("k").cast("string")))
        .coalesce(1).sortWithinPartitions("k")
        .write.format("graft-avro").option("sortedBy", "k")
        .option("bloomFor", "k").option("ndvFor", "k")
        .mode(mode)
      branch.fold(w)(b => w.option("branch", b)).save(dir)
    }
    val five = Seq(AvroFileSource.colZoneFile _, AvroFileSource.bloomFile _,
      AvroFileSource.rowsFile _, AvroFileSource.ndvFile _,
      AvroFileSource.blockIdxFile _)
    write(0, 9000, "overwrite") // v1: three 4096-row chunks
    five.foreach(ff => withClue(ff(d).getName) { ff(d).isFile shouldBe true })

    // clone: every sidecar byte-identical in the fresh table
    val cl = new File(tmp(), "clone")
    AvroMaintenance.cloneTo(dir, cl.getPath)
    five.foreach(ff => withClue(ff(d).getName) {
      bytes(ff(cl)) shouldBe bytes(ff(d))
    })

    // publish: the branch's lines append verbatim after main's; the
    // unverified append withdraws the sort claim
    AvroMaintenance.createBranch(dir, "b")
    write(9000, 14000, "append", Some("b"))
    val bd = AvroFileSource.branchDir(d, "b")
    val before = five.map(ff => (ff(d).getName, bytes(ff(d)),
      if (ff(bd).isFile) bytes(ff(bd)) else ""))
    before.map(_._3).count(_.nonEmpty) should be >= 4
    AvroMaintenance.publishBranch(dir, "b") // v2
    five.zip(before).foreach { case (ff, (name, m, b)) =>
      withClue(name) {
        bytes(ff(d)) shouldBe (if (b.isEmpty) m else m + "\n" + b)
      }
    }
    AvroFileSource.sortMarker(d).exists() shouldBe false

    // rollback: every stats sidecar drops (a sorted overwrite makes all
    // five present going in)
    write(20000, 29000, "overwrite") // v3
    five.foreach(ff => withClue(ff(d).getName) { ff(d).isFile shouldBe true })
    AvroMaintenance.rollbackTo(dir, 1L)
    five.foreach(ff => withClue(ff(d).getName) { ff(d).exists() shouldBe false })
    spark.read.format("graft-avro").load(dir).count() shouldBe 9000L
  }
}
