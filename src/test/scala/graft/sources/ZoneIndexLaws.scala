package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkTestSession

/** The zone index and the journal caches equal a fresh parse over
  * random table histories: sorted and unsorted appends, overwrites,
  * deletes, compaction, ALTER widen / rename / drop, analyze, clone,
  * publish and rollback. After every step, for every column the
  * sidecar or the schema names and every read type in [[ReadTypes]],
  * the index-served bounds, `cnt:` cells and column set equal
  * [[ZoneIndex.parsed]]; `readSnapshots` and `fileBirths` equal a parse
  * of the journal. The index and caches stay warm across steps, so each
  * commit carries forward what the previous checks built, and a stale
  * carry shows as a difference. An append must carry the views forward.
  */
object ZoneIndexLaws extends Properties("ZoneIndexLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.spark

  /** Read types every column's cells are typed under. */
  private val ReadTypes: Seq[DataType] =
    Seq(IntegerType, LongType, StringType, DoubleType, DateType)

  private sealed trait Op
  private case class Write(rows: List[Row], cols: List[String],
      sorted: Boolean, overwrite: Boolean) extends Op
  private case class Delete(pick: Int) extends Op
  private case object Compact extends Op
  private case object Widen extends Op
  private case object Rename extends Op
  private case object Drop extends Op
  private case object Analyze extends Op
  private case object Clone extends Op
  private case class Publish(rows: List[Row]) extends Op
  private case class Rollback(pick: Int) extends Op

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("a", IntegerType),
    StructField("s", StringType)))

  private val rowGen: Gen[Row] = for {
    k <- Gen.chooseNum(-50L, 50L)
    a <- Gen.frequency(5 -> Gen.chooseNum(-9, 9).map(Int.box),
      1 -> Gen.const(null))
    s <- Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.const(""),
      1 -> Gen.const("t\tab"),
      1 -> Gen.const("😀" * 40), // surrogate pairs over the cap
      1 -> Gen.const(null))
  } yield Row(k, a, s)

  private val rowsGen: Gen[List[Row]] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, rowGen))

  /** The data columns a write carries besides `k`: a column whose every
    * file dies leaves the sidecar, and the column set must follow.
    */
  private val colsGen: Gen[List[String]] = Gen.frequency(
    3 -> Gen.const(List("a", "s")),
    1 -> Gen.someOf(List("a", "s")).map(_.toList.sorted))

  private val opGen: Gen[Op] = Gen.frequency(
    6 -> Gen.zip(rowsGen, colsGen, Gen.prob(0.5), Gen.prob(0.15))
      .map { case (r, c, s, o) => Write(r, c, s, o) },
    2 -> Gen.choose(0, 1000).map(Delete),
    1 -> Gen.const(Compact), 1 -> Gen.const(Widen), 1 -> Gen.const(Rename),
    1 -> Gen.const(Drop), 1 -> Gen.const(Analyze), 1 -> Gen.const(Clone),
    1 -> rowsGen.map(Publish), 1 -> Gen.choose(0, 1000).map(Rollback))

  private def write(dir: String, rows: List[Row], cols: List[String],
      sorted: Boolean, mode: String, branch: Option[String] = None): Unit = {
    val ordered = if (sorted) rows.sortBy(_.getLong(0)) else rows
    val w0 = spark.createDataFrame(ordered.asJava, schema)
      .select(("k" :: cols).map(org.apache.spark.sql.functions.col): _*)
      .coalesce(1).write.format("graft-avro").mode(mode)
    val w1 = if (sorted) w0.option("sortedBy", "k") else w0
    branch.fold(w1)(b => w1.option("branch", b)).save(dir)
  }

  private def current(dir: String): StructType =
    spark.read.format("graft-avro").load(dir).schema

  /** Column names the sidecar or the schema holds. */
  private def names(d: File): Set[String] =
    AvroFileSource.readColZonesRaw(AvroFileSource.colZoneFile(d))
      .valuesIterator.flatten
      .map(c => java.net.URLDecoder.decode(c._1, "UTF-8")).toSet ++
      Try(current(d.getPath).fieldNames.toSet).getOrElse(Set.empty)

  /** Index-served views equal a fresh parse; caches equal the journal.
    * `seen` gathers every column name the history has shown, so a column
    * that left the sidecar is still asked about.
    */
  private def agrees(d: File,
      seen: scala.collection.mutable.Set[String]): Boolean = {
    seen ++= names(d)
    val cols = seen.toSet
    val zonesAgree = cols.forall { c =>
      ReadTypes.forall { dt =>
        val full = StructType(Seq(StructField(c, dt)))
        val served = ZoneIndex.of(d, full)
        val fresh = ZoneIndex.parsed(d, full)
        served.boundsOf(c) == fresh.boundsOf(c) &&
          served.nullCellsOf(c) == fresh.nullCellsOf(c)
      }
    } && {
      val full = StructType(cols.toSeq.sorted.map(StructField(_, LongType)))
      ZoneIndex.of(d, full).columns.toSet ==
        ZoneIndex.parsed(d, full).columns.toSet
    }
    val jf = AvroFileSource.snapshotsFile(d)
    val journalAgrees = !jf.isFile || (
      AvroFileSource.readSnapshots(d) == AvroFileSource.parseSnapshots(jf) &&
        AvroFileSource.fileBirths(d) == AvroFileSource.parseBirths(jf))
    zonesAgree && journalAgrees
  }

  property("the zone index and journal caches equal a fresh parse") =
    Prop.forAll(Gen.choose(2, 7).flatMap(n => Gen.listOfN(n, opGen)),
      rowsGen) { (ops, seed) =>
      val dir = graft.operators.Catalog.tempDir("graft_zilaw")
      val d = new File(dir)
      val fresh = Iterator.from(0)
      def dataCols = Try(current(dir).fields.filter(_.name != "k").toSeq)
        .getOrElse(Nil)
      write(dir, seed, List("a", "s"), sorted = true, "overwrite")
      val seen = scala.collection.mutable.Set.empty[String]
      var ok = agrees(d, seen)
      ops.foreach { op =>
        // a refused step (a retired name, an unsorted key under a sort
        // claim, a pending delete) leaves the table as it was
        Try(op match {
          case Write(rows, cols, sorted, o) =>
            val held = ZoneIndex.heldViews(d)
            write(dir, rows, cols, sorted, if (o) "overwrite" else "append")
            // the fold carried every view the last check built
            ok &&= held == 0 || ZoneIndex.heldViews(d) == held
          case Delete(pick) =>
            val ks = spark.read.format("graft-avro").load(dir)
              .select("k").collect().map(_.getLong(0)).distinct.sorted
            if (ks.nonEmpty)
              AvroMaintenance.deleteWhere(spark, dir, "k",
                Seq(ks(pick % ks.length)))
          case Compact => AvroMaintenance.compactInPlace(spark, dir, 1L << 30)
          case Widen => dataCols.find(_.dataType == IntegerType).foreach(f =>
            AvroMaintenance.widenColumn(dir, f.name, LongType))
          case Rename => dataCols.headOption.foreach(f =>
            AvroMaintenance.renameColumn(dir, f.name, s"r${fresh.next()}"))
          case Drop => dataCols.lastOption.foreach(f =>
            AvroMaintenance.dropColumn(dir, f.name))
          case Analyze => AvroMaintenance.analyze(spark, dir)
          case Clone =>
            val out = graft.operators.Catalog.tempDir("graft_zilaw_clone")
            AvroMaintenance.cloneTo(dir, out)
            ok &&= agrees(new File(out), seen.clone())
          case Publish(rows) =>
            AvroMaintenance.createBranch(dir, "staged")
            try {
              write(dir, rows, List("a", "s"), sorted = false, "append",
                Some("staged"))
              AvroMaintenance.publishBranch(dir, "staged")
            } finally {
              if (AvroFileSource.branchDir(d, "staged").exists())
                AvroMaintenance.dropBranch(dir, "staged")
            }
          case Rollback(pick) =>
            val vs = AvroFileSource.readSnapshots(d).init
            if (vs.nonEmpty)
              AvroMaintenance.rollbackTo(dir, vs(pick % vs.size).version)
        })
        ok &&= agrees(d, seen)
      }
      ok
    }
}
