package graft.sources

import java.io.File

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** ALTER TABLE column evolution (`_graft_evo`) and rollback
  * ([[AvroMaintenance.rollbackTo]]) for graft-avro. Pinned here:
  *
  *  - ADD COLUMN is metadata-only: old files serve null, files written
  *    afterwards carry real values, the column appends at the end;
  *  - each ALTER mints its own journal version, so AS OF reads bracket
  *    it exactly (pre-add travel lacks the column, pre-drop travel
  *    still serves the dropped one);
  *  - DROP COLUMN retires the name forever — re-adding it, renaming
  *    another column onto it, and writing a schema that carries it all
  *    fail loudly (name-based resolution would resurrect old bytes);
  *  - dropping the verified-sort column withdraws the marker and zone
  *    manifest (metadata MIN/MAX must fall back to a real scan);
  *  - rollbackTo(v) restores version v's file set AND delete sidecar as
  *    a NEW version, drops every derived stats manifest, and refuses
  *    with positional deletes pending or an unknown/current version.
  */
class SchemaEvoSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_evo")

  private def writeKV(dir: String, lo: Int, hi: Int, mode: String,
      extra: Boolean = false): Unit = {
    val base = spark.range(lo, hi).toDF("k")
      .withColumn("grp", (F.col("k") % 5).cast("int"))
    val df = if (extra) base.withColumn("bonus", F.col("k") * 10) else base
    df.repartition(2).write.format("graft-avro").mode(mode).save(dir)
  }

  test("ADD COLUMN: old files null, new files carry values, travel brackets the ALTER") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")                         // v1
    AvroMaintenance.addColumn(dir, StructField("bonus", LongType)) // v2
    writeKV(dir, 10, 15, "append", extra = true)             // v3

    val live = spark.read.format("graft-avro").load(dir)
    live.schema.fieldNames.toSeq shouldBe Seq("k", "grp", "bonus")
    live.schema("bonus").nullable shouldBe true
    val rows = live.select("k", "bonus").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    rows(3L) shouldBe -1L          // pre-ALTER file: synthesized null
    rows(12L) shouldBe 120L        // post-ALTER file: real value

    // travel: v1 lacks the column entirely; v2 has it (all null)
    val v1 = spark.read.format("graft-avro").option("versionAsOf", 1).load(dir)
    v1.schema.fieldNames.toSeq shouldBe Seq("k", "grp")
    val v2 = spark.read.format("graft-avro").option("versionAsOf", 2).load(dir)
    v2.schema.fieldNames.toSeq shouldBe Seq("k", "grp", "bonus")
    v2.where(F.col("bonus").isNotNull).count() shouldBe 0L

    val snaps = AvroFileSource.readSnapshots(new File(dir))
    snaps.map(_.kind) shouldBe Seq("overwrite", "add-column", "append")
  }

  test("ADD COLUMN guards: duplicate name, retired name") {
    val dir = tmp()
    writeKV(dir, 0, 5, "overwrite")
    intercept[IllegalArgumentException] {
      AvroMaintenance.addColumn(dir, StructField("k", LongType))
    }
    AvroMaintenance.dropColumn(dir, "grp")
    intercept[IllegalArgumentException] {
      AvroMaintenance.addColumn(dir, StructField("grp", LongType))
    }
  }

  test("nested ADD/DROP: dotted paths evolve struct fields metadata-only (r20)") {
    val dir = tmp()
    def nested(lo: Int, hi: Int, withBonus: Boolean): org.apache.spark.sql.DataFrame = {
      val base = spark.range(lo, hi).toDF("k")
      val info =
        if (withBonus) F.struct(
          F.concat(F.lit("n"), F.col("k")).as("name"),
          (F.col("k") * 2).as("score"),
          (F.col("k") * 10).as("bonus"))
        else F.struct(
          F.concat(F.lit("n"), F.col("k")).as("name"),
          (F.col("k") * 2).as("score"))
      base.withColumn("info", info)
    }
    nested(0, 10, withBonus = false).repartition(2)
      .write.format("graft-avro").mode("overwrite").save(dir)   // v1
    AvroMaintenance.addColumn(dir, StructField("info.bonus", LongType)) // v2
    nested(10, 15, withBonus = true).repartition(2)
      .write.format("graft-avro").mode("append").save(dir)      // v3

    val live = spark.read.format("graft-avro").load(dir)
    val infoT = live.schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    infoT.fieldNames.toSeq shouldBe Seq("name", "score", "bonus")
    infoT("bonus").nullable shouldBe true
    val rows = live.select(F.col("k"), F.col("info.bonus")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    rows(3L) shouldBe -1L      // pre-ALTER file: synthesized nested null
    rows(12L) shouldBe 120L    // post-ALTER file: real value

    // travel brackets the ALTER: v1's struct lacks bonus, v2 serves it
    def infoFields(v: Int): Seq[String] =
      spark.read.format("graft-avro").option("versionAsOf", v).load(dir)
        .schema("info").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq
    infoFields(1) shouldBe Seq("name", "score")
    infoFields(2) shouldBe Seq("name", "score", "bonus")

    // nested DROP hides the field live, pre-drop travel still serves it,
    // and the dotted path is retired forever
    AvroMaintenance.dropColumn(dir, "info.score")               // v4
    spark.read.format("graft-avro").load(dir)
      .schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq shouldBe Seq("name", "bonus")
    infoFields(3) should contain("score")
    intercept[IllegalArgumentException] {
      AvroMaintenance.addColumn(dir, StructField("info.score", LongType))
    }
    // a write whose schema carries the retired nested path fails loudly
    val err = intercept[Exception] {
      nested(15, 18, withBonus = true).write.format("graft-avro")
        .mode("append").save(dir)
    }
    Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse(""))
      .mkString("; ") should include("retired")
    // renaming the parent struct would detach the retired paths
    intercept[IllegalArgumentException] {
      AvroMaintenance.renameColumn(dir, "info", "meta")
    }
    // the evolved shape (sans score) keeps writing fine
    nested(15, 18, withBonus = true)
      .select(F.col("k"), F.struct(
        F.col("info.name").as("name"),
        F.col("info.bonus").as("bonus")).as("info"))
      .write.format("graft-avro").mode("append").save(dir)      // v5
    spark.read.format("graft-avro").load(dir).count() shouldBe 18L

    // guards: missing parent, non-struct parent, last nested field
    intercept[IllegalArgumentException] {
      AvroMaintenance.addColumn(dir, StructField("nosuch.x", LongType))
    }
    intercept[IllegalArgumentException] {
      AvroMaintenance.addColumn(dir, StructField("k.x", LongType))
    }
    AvroMaintenance.dropColumn(dir, "info.bonus")
    intercept[IllegalArgumentException] {
      AvroMaintenance.dropColumn(dir, "info.name") // last field left
    }
  }

  test("DROP COLUMN hides the column live, pre-drop travel still serves it") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")                          // v1
    AvroMaintenance.dropColumn(dir, "grp")                    // v2

    val live = spark.read.format("graft-avro").load(dir)
    live.schema.fieldNames.toSeq shouldBe Seq("k")
    live.count() shouldBe 10L

    val v1 = spark.read.format("graft-avro").option("versionAsOf", 1).load(dir)
    v1.schema.fieldNames.toSeq shouldBe Seq("k", "grp")
    v1.where(F.col("grp") === 2).count() shouldBe 2L
  }

  test("retired names: writes carrying a dropped column fail loudly") {
    val dir = tmp()
    writeKV(dir, 0, 5, "overwrite")
    AvroMaintenance.dropColumn(dir, "grp")
    val err = intercept[Exception] {
      writeKV(dir, 5, 8, "append") // schema carries 'grp' again
    }
    // the require fires inside Spark's write planning — search the chain
    val msgs = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString("; ")
    msgs should include("retired")
    // rename onto the retired name is refused too
    intercept[IllegalArgumentException] {
      AvroMaintenance.renameColumn(dir, "k", "grp")
    }
  }

  test("dropping the verified-sort column withdraws the marker and zones") {
    val dir = tmp()
    spark.range(0, 100).toDF("k")
      .withColumn("v", F.col("k") * 2)
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)
    val d = new File(dir)
    AvroFileSource.sortMarker(d).isFile shouldBe true
    AvroMaintenance.dropColumn(dir, "k")
    AvroFileSource.sortMarker(d).isFile shouldBe false
    // remaining column still reads
    spark.read.format("graft-avro").load(dir)
      .agg(F.sum("v")).collect()(0).getLong(0) shouldBe (0L until 100L)
      .map(_ * 2).sum
  }

  test("DROP COLUMN guards: last column, unknown, equality-delete reference") {
    val dir = tmp()
    writeKV(dir, 0, 5, "overwrite")
    intercept[IllegalArgumentException] {
      AvroMaintenance.dropColumn(dir, "nope")
    }
    AvroMaintenance.deleteWhere(spark, dir, "grp", Seq(1))
    intercept[IllegalArgumentException] {
      AvroMaintenance.dropColumn(dir, "grp")
    }
  }

  test("ALTER COLUMN TYPE widens metadata-only: old files promote at decode") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")                          // v1: grp int
    AvroMaintenance.widenColumn(dir, "grp",
      org.apache.spark.sql.types.LongType)                    // v2
    val t = spark.read.format("graft-avro").load(dir)
    t.schema("grp").dataType shouldBe LongType
    t.agg(F.sum("grp")).head().getLong(0) shouldBe
      (0 until 10).map(_ % 5).sum.toLong
    // post-widen appends carry the wide type natively
    spark.range(10, 15).toDF("k")
      .withColumn("grp", F.col("k") % 5) // long already
      .repartition(1)
      .write.format("graft-avro").mode("append").save(dir)    // v3
    val t2 = spark.read.format("graft-avro").load(dir)
    t2.schema("grp").dataType shouldBe LongType
    t2.count() shouldBe 15
    // AS OF pre-widen still serves the narrow type
    spark.read.format("graft-avro").option("versionAsOf", 1)
      .load(dir).schema("grp").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
    // filters and aggregation on the promoted column stay exact
    t2.filter(F.col("grp") === 2L).count() shouldBe 3
  }

  test("widen guards: narrowing, unknown column, delete reference, non-promotion") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")
    an[Exception] should be thrownBy AvroMaintenance.widenColumn(
      dir, "k", org.apache.spark.sql.types.IntegerType) // narrowing
    an[Exception] should be thrownBy AvroMaintenance.widenColumn(
      dir, "nope", LongType)
    an[Exception] should be thrownBy AvroMaintenance.widenColumn(
      dir, "grp", org.apache.spark.sql.types.StringType)
    AvroMaintenance.deleteWhere(spark, dir, "grp", Seq(4))
    val e = intercept[IllegalArgumentException] {
      AvroMaintenance.widenColumn(dir, "grp", LongType)
    }
    e.getMessage should include("compact first")
  }

  test("SQL ALTER COLUMN TYPE widens through the catalog (data-backed and empty)") {
    val root = graft.operators.Catalog.tempDir("graft_widen_cat")
    spark.conf.set("spark.sql.catalog.graft_w",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_w.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_w.ns")
    spark.sql("DROP TABLE IF EXISTS graft_w.ns.w")
    spark.sql("CREATE TABLE graft_w.ns.w AS " +
      "SELECT CAST(id AS INT) AS k, CAST(id * 2 AS INT) AS v FROM range(10)")
    spark.sql("ALTER TABLE graft_w.ns.w ALTER COLUMN v TYPE BIGINT")
    spark.table("graft_w.ns.w").schema("v").dataType shouldBe LongType
    spark.sql("SELECT sum(v) FROM graft_w.ns.w").head().getLong(0) shouldBe 90L
    // empty DDL table: sidecar rewrite path
    spark.sql("DROP TABLE IF EXISTS graft_w.ns.e")
    spark.sql("CREATE TABLE graft_w.ns.e (a INT, b FLOAT)")
    spark.sql("ALTER TABLE graft_w.ns.e ALTER COLUMN b TYPE DOUBLE")
    spark.table("graft_w.ns.e").schema("b").dataType shouldBe
      org.apache.spark.sql.types.DoubleType
    an[Exception] should be thrownBy
      spark.sql("ALTER TABLE graft_w.ns.e ALTER COLUMN a TYPE STRING")
  }

  test("evolution entries survive journal vacuum and corrupt evo fails reads") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")
    AvroMaintenance.addColumn(dir, StructField("bonus", LongType))
    writeKV(dir, 10, 12, "append", extra = true)
    AvroMaintenance.expireSnapshots(dir, keepLast = 1)
    val live = spark.read.format("graft-avro").load(dir)
    live.schema.fieldNames.toSeq shouldBe Seq("k", "grp", "bonus")

    java.nio.file.Files.write(
      AvroFileSource.evoFile(new File(dir)).toPath,
      "garbage line\n".getBytes("UTF-8"))
    intercept[Exception] {
      spark.read.format("graft-avro").load(dir).schema
    }
  }

  test("rollbackTo restores files and delete sidecar as a new version") {
    val dir = tmp()
    writeKV(dir, 0, 10, "overwrite")                           // v1
    AvroMaintenance.deleteWhere(spark, dir, "k", Seq(3L))      // v2
    writeKV(dir, 100, 105, "overwrite")                        // v3 (clears deletes)

    spark.read.format("graft-avro").load(dir).count() shouldBe 5L
    val v = AvroMaintenance.rollbackTo(dir, 2L)                // v4 = state of v2
    v shouldBe 4L
    val live = spark.read.format("graft-avro").load(dir)
    live.count() shouldBe 9L // 10 rows minus the k=3 equality delete
    live.select("k").collect().map(_.getLong(0)).toSet should not contain 3L

    // history is append-only: v3 still travels
    spark.read.format("graft-avro").option("versionAsOf", 3).load(dir)
      .count() shouldBe 5L
    val snaps = AvroFileSource.readSnapshots(new File(dir))
    snaps.last.kind shouldBe "rollback"
    snaps.last.files.toSet shouldBe snaps(1).files.toSet
  }

  test("rollback drops derived stats manifests (absence => scan)") {
    val dir = tmp()
    spark.range(0, 50).toDF("k").coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("overwrite").save(dir)                             // v1
    spark.range(50, 60).toDF("k").coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k")
      .mode("append").save(dir)                                // v2
    val d = new File(dir)
    AvroFileSource.sortMarker(d).isFile shouldBe true
    AvroMaintenance.rollbackTo(dir, 1L)
    AvroFileSource.sortMarker(d).isFile shouldBe false
    AvroFileSource.colZoneFile(d).isFile shouldBe false
    spark.read.format("graft-avro").load(dir).count() shouldBe 50L
  }

  test("streaming reads serve the evolved schema (added column null on old files)") {
    val dir = tmp()
    writeKV(dir, 0, 6, "overwrite")
    AvroMaintenance.addColumn(dir, StructField("bonus", LongType))
    writeKV(dir, 6, 9, "append", extra = true)
    val out = tmp()
    val q = spark.readStream.format("graft-avro").load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    got.schema.fieldNames.toSeq shouldBe Seq("k", "grp", "bonus")
    got.count() shouldBe 9L
    got.where(F.col("bonus").isNull).count() shouldBe 6L
    got.agg(F.sum("bonus")).head().getLong(0) shouldBe (6L until 9L)
      .map(_ * 10).sum
  }

  test("rollback guards: unknown version, current version, legacy posdel") {
    val dir = tmp()
    writeKV(dir, 0, 5, "overwrite")                            // v1
    writeKV(dir, 5, 8, "append")                               // v2
    intercept[IllegalArgumentException] {
      AvroMaintenance.rollbackTo(dir, 99L)
    }
    intercept[IllegalArgumentException] {
      AvroMaintenance.rollbackTo(dir, 2L)
    }
    // JOURNALED posdel rolls back with the rest of the state (r16):
    // the position delete mints v3, rollback to v2 restores all rows
    val rel = AvroFileSource.listAvro(new File(dir)).head.getName
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(0L)) // v3
    spark.read.format("graft-avro").load(dir).count() shouldBe 7L
    AvroMaintenance.rollbackTo(dir, 2L) // v4
    spark.read.format("graft-avro").load(dir).count() shouldBe 8L
    AvroFileSource.posdelFile(new File(dir)).isFile shouldBe false
    // a LEGACY (unjournaled) overlay still refuses
    AvroFileSource.writePosdelSidecar(new File(dir),
      Map(rel -> Array(0L)))
    val e = intercept[IllegalArgumentException] {
      AvroMaintenance.rollbackTo(dir, 1L)
    }
    e.getMessage should include("UNJOURNALED")
  }
}
