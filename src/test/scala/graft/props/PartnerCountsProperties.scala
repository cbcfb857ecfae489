package graft.props

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Dedup.{PairCount, PartnerCounts, Tail}

/** The jaccard/containment partner pass ([[PartnerCounts]]) against the
  * sort-and-run-length count it replaced: concatenate a run's tails, sort
  * them, and count each run of equal partners. Runs are random, tails
  * repeat partners across rows, ids include the long extremes, and some
  * runs hold enough distinct partners to grow the table. */
object PartnerCountsProperties extends Properties("graft.partnercounts") {

  private val id: Gen[Long] = Gen.frequency(
    8 -> Gen.chooseNum(-20L, 80L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L << 40),
    1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue))

  // a sorted set of partners, never starting with `a` (that is a duplicate id)
  private def tail(a: Long): Gen[Array[Long]] = Gen.frequency(
    6 -> Gen.listOf(id),
    1 -> Gen.chooseNum(0, 3000).map(n => List.tabulate(n)(i => (i * 7L) % 2500)))
    .map(_.filter(_ != a).distinct.sorted.toArray)

  private val runs: Gen[Seq[(Long, Seq[Array[Long]])]] = for {
    as <- Gen.listOf(id).map(_.distinct.sorted)
    rs <- Gen.sequence[Seq[(Long, Seq[Array[Long]])], (Long, Seq[Array[Long]])](
      as.map(a => Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, tail(a))).map(a -> _)))
  } yield rs

  private val minPermille: Gen[Int] = Gen.oneOf(-1, 0, 1, 300, 500, 800, 1000)

  private def reference(rs: Seq[(Long, Seq[Array[Long]])], minPermille: Int): Seq[PairCount] =
    rs.flatMap { case (a, tails) =>
      val n = tails.size.toLong
      val need = if (minPermille <= 0) 1L else math.max(1L, (minPermille * n + 999) / 1000)
      val sorted = tails.flatten.sorted
      val counted = sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((b, c) :: rest, x) if b == x => (b, c + 1) :: rest
        case (acc, x) => (x, 1L) :: acc
      }.reverse
      counted.collect { case (b, c) if c >= need => PairCount(a, b, c, n) }
    }

  private def rows(rs: Seq[(Long, Seq[Array[Long]])]): Iterator[Tail] =
    rs.iterator.flatMap { case (a, tails) => tails.map(Tail(a, _)) }

  property("counts equal the sorted run-length count") = forAll(runs, minPermille) { (rs, mp) =>
    new PartnerCounts(rows(rs), mp).toList == reference(rs, mp)
  }

  property("a tail that starts with its own id fails") = forAll(runs, id) { (rs, a) =>
    val bad = rs.filter(_._1 < a) :+ (a -> Seq(Array(a)))
    try { new PartnerCounts(rows(bad), 0).foreach(_ => ()); false }
    catch { case _: IllegalArgumentException => true }
  }
}
