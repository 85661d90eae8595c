package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkTestSession

/** Memo-backed schema inference equals the reference header sweep
  * ([[HeaderSweep]]) over random table histories: writes whose column
  * set drifts, overwrites, in-place compaction, column renames, ALTER
  * ADD / DROP / widen, branches (staged, then published or dropped),
  * clones, rollbacks and snapshot expiry. After every step the live
  * view, every journaled version (`versionAsOf`), the incremental
  * range, the change-feed view and any open branch must infer the
  * same schema both ways, or fail both ways. The memo stays warm across
  * steps, so a stale entry would show as a difference.
  */
object WriterSchemaLaws extends Properties("WriterSchemaLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestSession.spark

  private sealed trait Op
  private case class Write(cols: List[String], overwrite: Boolean) extends Op
  private case object Compact extends Op
  private case object Rename extends Op
  private case object Add extends Op
  private case object Drop extends Op
  private case object Widen extends Op
  private case class Branch(cols: List[String], publish: Boolean) extends Op
  private case object Clone extends Op
  private case class Rollback(pick: Int) extends Op
  private case object Expire extends Op

  /** Data columns a write may carry besides `k`. */
  private val pool = List("a", "b", "c", "d")

  private val colsGen: Gen[List[String]] =
    Gen.someOf(pool).map(_.toList.sorted)

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.zip(colsGen, Gen.prob(0.2)).map { case (c, o) => Write(c, o) },
    1 -> Gen.const(Compact), 2 -> Gen.const(Rename), 1 -> Gen.const(Add),
    1 -> Gen.const(Drop), 1 -> Gen.const(Widen),
    1 -> Gen.zip(colsGen, Gen.prob(0.5)).map { case (c, p) => Branch(c, p) },
    1 -> Gen.const(Clone), 1 -> Gen.choose(0, 1000).map(Rollback),
    1 -> Gen.const(Expire))

  /** Three rows; `b` is nullable, the rest are not, so files that lack
    * a column or write it differently exercise the nullability merge.
    */
  private def rows(cols: List[String]): DataFrame =
    cols.foldLeft(spark.range(0, 3).toDF("k")) { (df, c) =>
      df.withColumn(c, c match {
        case "a" => F.col("k").cast("int")
        case "b" => F.when(F.col("k") > 0, F.col("k").cast("string"))
        case "c" => F.col("k") * 10
        case _ => (F.col("k") + 1).cast("int")
      })
    }

  private def write(dir: String, cols: List[String], mode: String,
      branch: Option[String] = None): Unit = {
    val w = rows(cols).coalesce(1).write.format("graft-avro").mode(mode)
    branch.fold(w)(b => w.option("branch", b)).save(dir)
  }

  private def opts(dir: String, kv: (String, String)*)
      : CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap((Map("path" -> dir) ++ kv).asJava)

  private def outcome(t: => Any): Either[String, Any] = Try(t) match {
    case Success(v) => Right(v)
    case Failure(e) => Left(e.getClass.getName)
  }

  /** Memo-backed and reference inference agree on `o`. */
  private def agrees(o: CaseInsensitiveStringMap): Boolean =
    outcome(new AvroFileSource().inferSchema(o)) ==
      outcome(HeaderSweep.inferSchema(o))

  private def agreesEverywhere(dir: String,
      branch: Option[String] = None): Boolean = {
    val versions = AvroFileSource.readSnapshots(new File(dir)).map(_.version)
    agrees(opts(dir)) &&
      agrees(opts(dir, "readChangeFeed" -> "true")) &&
      versions.forall(v => agrees(opts(dir, "versionAsOf" -> v.toString))) &&
      (versions.size < 2 || agrees(opts(dir,
        "fromVersion" -> versions.head.toString,
        "toVersion" -> versions.last.toString))) &&
      branch.forall(b => agrees(opts(dir, "branch" -> b)))
  }

  property("memo-backed inference equals the header sweep") =
    Prop.forAll(Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, opGen))) { ops =>
      val dir = graft.operators.Catalog.tempDir("graft_wslaw")
      val fresh = Iterator.from(0)
      def current = HeaderSweep.inferSchema(opts(dir))
      def dataCols = current.fields.filter(_.name != "k")
      write(dir, List("a", "b"), "overwrite")
      var ok = agreesEverywhere(dir)
      ops.foreach { op =>
        // a refused step (a retired name, a pending delete, a rollback
        // target that no longer exists) leaves the table as it was
        Try(op match {
          case Write(cols, o) =>
            write(dir, cols, if (o) "overwrite" else "append")
          case Compact => AvroMaintenance.compactInPlace(spark, dir, 1L << 30)
          case Rename => dataCols.headOption.foreach(f =>
            AvroMaintenance.renameColumn(dir, f.name, s"r${fresh.next()}"))
          case Add => AvroMaintenance.addColumn(dir,
            StructField(s"e${fresh.next()}", IntegerType))
          case Drop => dataCols.lastOption.foreach(f =>
            AvroMaintenance.dropColumn(dir, f.name))
          case Widen => dataCols.find(_.dataType == IntegerType).foreach(f =>
            AvroMaintenance.widenColumn(dir, f.name, LongType))
          case Branch(cols, publish) =>
            AvroMaintenance.createBranch(dir, "staged")
            try {
              write(dir, cols, "append", Some("staged"))
              ok &&= agreesEverywhere(dir, Some("staged"))
              if (publish) AvroMaintenance.publishBranch(dir, "staged")
            } finally {
              // a published branch is consumed; any other is dropped
              if (AvroFileSource.branchDir(new File(dir), "staged").exists())
                AvroMaintenance.dropBranch(dir, "staged")
            }
          case Clone =>
            val out = graft.operators.Catalog.tempDir("graft_wslaw_clone")
            AvroMaintenance.cloneTo(dir, out)
            ok &&= agreesEverywhere(out)
          case Rollback(pick) =>
            // any version but the current one
            val vs = AvroFileSource.readSnapshots(new File(dir)).init
            if (vs.nonEmpty)
              AvroMaintenance.rollbackTo(dir, vs(pick % vs.size).version)
          case Expire => AvroMaintenance.expireSnapshots(dir, keepLast = 2)
        })
        ok &&= agreesEverywhere(dir)
      }
      ok
    }
}
