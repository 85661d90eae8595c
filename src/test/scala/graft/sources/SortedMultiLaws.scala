package graft.sources

import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, Prop, Properties}

/** Property laws of the lexicographic OrderVerifier (multi-column
  * `sortedBy`): any list of (nullable) tuples fed in its OWN
  * lexicographic order (nulls first per column) verifies with the
  * primary column's first/last non-null as its zone, and the same list
  * with one adjacent STRICT inversion always throws — so a green
  * sorted write is proof of tuple order, never a vacuous pass.
  */
object SortedMultiLaws extends Properties("SortedMultiLaws") {

  private type Tup = (Option[Long], Option[Long])

  // nulls-first lexicographic order on Option[Long] pairs — the model
  private def cmpOpt(x: Option[Long], y: Option[Long]): Int = (x, y) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
  }
  private def cmp(a: Tup, b: Tup): Int = {
    val c = cmpOpt(a._1, b._1)
    if (c != 0) c else cmpOpt(a._2, b._2)
  }

  private def feed(rows: Seq[Tup]): AvroWriters.OrderVerifier = {
    // internal LongType values are the boxed longs themselves
    val cmp = AvroWriters.internalCmp(LongType).get
    val v = new AvroWriters.OrderVerifier(Seq("a", "b"), Array(cmp, cmp))
    rows.foreach { case (x, y) =>
      v.check(Array[Any](x.map(Long.box).orNull, y.map(Long.box).orNull))
    }
    v
  }

  private val tupGen: Gen[Tup] = for {
    a <- Gen.option(Gen.chooseNum(-5L, 5L))
    b <- Gen.option(Gen.chooseNum(-5L, 5L))
  } yield (a, b)

  property("sorted tuple streams verify; zone = primary first/last " +
      "non-null") = Prop.forAll(Gen.listOf(tupGen)) { rows0 =>
    val rows = rows0.sortWith((a, b) => cmp(a, b) < 0)
    val v = feed(rows) // throws = property failure
    val nonNullP = rows.flatMap(_._1)
    val want =
      if (nonNullP.isEmpty) None
      else Some((Long.box(nonNullP.min): Any, Long.box(nonNullP.max): Any))
    v.zone == want
  }

  property("one adjacent strict inversion always throws") =
    Prop.forAll(Gen.nonEmptyListOf(tupGen), Gen.chooseNum(0, 1000)) {
      (rows0, seed) =>
        val sorted = rows0.sortWith((a, b) => cmp(a, b) < 0)
        val strictPairs = (0 until sorted.length - 1)
          .filter(k => cmp(sorted(k), sorted(k + 1)) < 0)
        if (strictPairs.isEmpty) true // all-equal stream: nothing to invert
        else {
          val k = strictPairs(seed % strictPairs.length)
          val broken =
            sorted.updated(k, sorted(k + 1)).updated(k + 1, sorted(k))
          try { feed(broken); false }
          catch { case _: IllegalArgumentException => true }
        }
    }
}
