package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The per-file stats sidecars of a graft-avro table, pinned byte for
  * byte: hand-made prior files for every family (a malformed line, a
  * non-`Long` block-index range, a duplicate `_graft_rows` rel, a rel
  * that is no longer alive, a rel the fresh commit rewrites) fold with
  * synthesized commit messages into the exact bytes asserted here, and
  * each reader's parse of the same files is asserted too. Any change to
  * how the sidecars are read, merged or written must keep these bytes.
  */
class StatsManifestsSpec extends AnyFunSuite with Matchers {

  private def tmp(): File =
    new File(graft.operators.Catalog.tempDir("graft_statsmf"))

  private def put(f: File, s: String): Unit = Files.write(f.toPath,
    s.getBytes(UTF_8))
  private def bytes(f: File): String =
    new String(Files.readAllBytes(f.toPath), UTF_8)

  private val priorColZones = Seq(
    "b.avro\tk\tbigint\t1\t9",
    "a.avro\tk\tbigint\t0\t5",
    "junk line",
    "dead.avro\tk\tbigint\t3\t4",
    "a.avro\tk\tcnt:bigint\t10\t10").mkString("\n")
  private val priorBlooms = Seq(
    "a.avro\tk\tbigint\tAAAAAAAAAAE=",
    "a.avro\tk\tbigint",
    "dead.avro\tk\tbigint\tAAAAAAAAAAI=",
    "b.avro\tk\tbigint\tAAAAAAAAAAM=",
    "a.avro\ts\ttrigram:string\tAAAAAAAAAAQ=").mkString("\n")
  private val priorRows = Seq(
    "a.avro\t3",
    "b.avro\tx",
    "dead.avro\t9",
    "a.avro\t4",
    "b.avro\t5",
    "c.avro").mkString("\n") + "\n"
  private val priorNdv = Seq(
    "dead.avro\tk\tbigint\tAAEC",
    "a.avro\tk\tbigint\tAAED",
    "a.avro\tk\tbigint\tAAED\textra").mkString("\n")
  private val priorBlockIdx = Seq(
    "a.avro\tk\tbigint\t0\t100\t0\t5",
    "a.avro\tk\tbigint\tx\t200\t6\t9",
    "a.avro\tk\tbigint\t100\t99999999999999999999\t6\t9",
    "a.avro\tk\tbigint\t100\t200\t6\t9",
    "b.avro\tk\tbigint\t0\t50\t-\t-",
    "dead.avro\tk\tbigint\t0\t10\t1\t2").mkString("\n")

  private def writePriors(d: File): Unit = {
    put(AvroFileSource.colZoneFile(d), priorColZones)
    put(AvroFileSource.bloomFile(d), priorBlooms)
    put(AvroFileSource.rowsFile(d), priorRows)
    put(AvroFileSource.ndvFile(d), priorNdv)
    put(AvroFileSource.blockIdxFile(d), priorBlockIdx)
  }

  test("each reader parses the hand-made priors: valid lines only") {
    val d = tmp()
    writePriors(d)
    AvroFileSource.readColZonesRaw(AvroFileSource.colZoneFile(d)) shouldBe
      Map(
        "b.avro" -> Seq(("k", "bigint", "1", "9")),
        "a.avro" -> Seq(("k", "bigint", "0", "5"),
          ("k", "cnt:bigint", "10", "10")),
        "dead.avro" -> Seq(("k", "bigint", "3", "4")))
    AvroFileSource.readBloomsRaw(AvroFileSource.bloomFile(d)) shouldBe Map(
      "a.avro" -> Seq(("k", "bigint", "AAAAAAAAAAE="),
        ("s", "trigram:string", "AAAAAAAAAAQ=")),
      "dead.avro" -> Seq(("k", "bigint", "AAAAAAAAAAI=")),
      "b.avro" -> Seq(("k", "bigint", "AAAAAAAAAAM=")))
    // one count per file: the last valid line wins
    AvroFileSource.readRowsRaw(AvroFileSource.rowsFile(d)) shouldBe
      Map("a.avro" -> 4L, "b.avro" -> 5L, "dead.avro" -> 9L)
    AvroFileSource.readNdvRaw(AvroFileSource.ndvFile(d)) shouldBe Map(
      "dead.avro" -> Seq(("k", "bigint", "AAEC")),
      "a.avro" -> Seq(("k", "bigint", "AAED")))
    AvroFileSource.readBlockIdxRaw(AvroFileSource.blockIdxFile(d)) shouldBe
      Map(
        "a.avro" -> Seq(("k", "bigint", 0L, 100L, "0", "5"),
          ("k", "bigint", 100L, 200L, "6", "9")),
        "b.avro" -> Seq(("k", "bigint", 0L, 50L, "-", "-")),
        "dead.avro" -> Seq(("k", "bigint", 0L, 10L, "1", "2")))
  }

  test("foldStatsManifests: exact bytes — alive filter, fresh replaces " +
      "its rel, malformed lines drop, lines sort by rel") {
    val d = tmp()
    writePriors(d)
    def fin(rel: String) = new File(d, rel).getPath
    val msgs = Seq(
      AvroCommitMessage(Nil,
        colZones = Seq(fin("b.avro") -> Seq(("k", "bigint", "100", "200"))),
        blooms = Seq(fin("b.avro") -> Seq(("k", "bigint", "AAAAAAAAAAU="))),
        rows = Seq(fin("b.avro") -> 50L),
        blockIdx = Seq(fin("b.avro") -> Seq(
          ("k", "bigint", 0L, 70L, "100", "150"),
          ("k", "bigint", 70L, 90L, "151", "200")))),
      AvroCommitMessage(Nil,
        colZones = Seq(fin("p=1/c.avro") -> Seq(("k", "bigint", "7", "8"),
          ("k", "cnt:bigint", "2", "3"))),
        rows = Seq(fin("p=1/c.avro") -> 7L),
        blockIdx = Seq(fin("p=1/c.avro") ->
          Seq(("k", "bigint", 0L, 30L, "7", "8")))))
    val alive = Set("a.avro", "b.avro", "p=1/c.avro")
    AvroFileSource.foldStatsManifests(d, msgs,
      aliveHint = Some(alive)) shouldBe Some(alive)

    bytes(AvroFileSource.colZoneFile(d)) shouldBe
      "a.avro\tk\tbigint\t0\t5\n" +
      "a.avro\tk\tcnt:bigint\t10\t10\n" +
      "b.avro\tk\tbigint\t100\t200\n" +
      "p=1/c.avro\tk\tbigint\t7\t8\n" +
      "p=1/c.avro\tk\tcnt:bigint\t2\t3"
    bytes(AvroFileSource.bloomFile(d)) shouldBe
      "a.avro\tk\tbigint\tAAAAAAAAAAE=\n" +
      "a.avro\ts\ttrigram:string\tAAAAAAAAAAQ=\n" +
      "b.avro\tk\tbigint\tAAAAAAAAAAU="
    bytes(AvroFileSource.rowsFile(d)) shouldBe
      "a.avro\t4\nb.avro\t50\np=1/c.avro\t7"
    // no fresh NDV entries: the prior file still alive-filters
    bytes(AvroFileSource.ndvFile(d)) shouldBe "a.avro\tk\tbigint\tAAED"
    bytes(AvroFileSource.blockIdxFile(d)) shouldBe
      "a.avro\tk\tbigint\t0\t100\t0\t5\n" +
      "a.avro\tk\tbigint\t100\t200\t6\t9\n" +
      "b.avro\tk\tbigint\t0\t70\t100\t150\n" +
      "b.avro\tk\tbigint\t70\t90\t151\t200\n" +
      "p=1/c.avro\tk\tbigint\t0\t30\t7\t8"
    // the fold writes only the five sidecars and stages nothing behind
    d.list().toSet shouldBe StatsManifests.Folded.map(_.in(d).getName).toSet

    // a commit that leaves nothing alive empties every existing family
    // (the files stay, zero bytes) and creates none that was absent
    AvroFileSource.ndvFile(d).delete()
    AvroFileSource.foldStatsManifests(d, Nil, aliveHint = Some(Set.empty))
    Seq(AvroFileSource.colZoneFile(d), AvroFileSource.bloomFile(d),
      AvroFileSource.rowsFile(d), AvroFileSource.blockIdxFile(d))
      .foreach(f => bytes(f) shouldBe "")
    AvroFileSource.ndvFile(d).exists() shouldBe false
  }
}
