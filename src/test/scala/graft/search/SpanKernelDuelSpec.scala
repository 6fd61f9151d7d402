package graft.search

import graft.core.{PhraseMatcher, SpanOracles}
import graft.search.SpanNode._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Every flat span query runs through SpanAlgebra; this duels the algebra
  * against the fixed-shape kernels it replaced (SpanOracles) on random
  * position lists, stop-hole query offsets included, for the four shapes
  * the flat entries use: SpanFirst, SpanNear over terms, SpanNear over
  * term/phrase subspans, and SpanNot.
  */
class SpanKernelDuelSpec extends AnyFunSuite {

  private val Cases = 300

  /** Slops near the lists' typical minimal slack, so the slack == slop
    * boundary is hit often (the generator's own slop runs to 10).
    */
  private val tightSlop: Gen[Int] = Gen.chooseNum(0, 3)

  /** Query offsets of an n-member phrase: an optional leading stop word,
    * then gaps of 1 (adjacent) or 2 (one stop word between).
    */
  private def holeOffsets(n: Int): Gen[Array[Int]] = for {
    start <- Gen.chooseNum(0, 1)
    gaps <- Gen.listOfN(n - 1, Gen.chooseNum(1, 2))
  } yield gaps.scanLeft(start)(_ + _).toArray

  /** `lists` with, half the time, one full phrase occurrence planted at a
    * random anchor, so matches and misses both occur.
    */
  private def planted(lists: Array[Array[Int]], offs: Array[Int]): Gen[Array[Array[Int]]] =
    for {
      plant <- Gen.oneOf(true, false)
      p0 <- Gen.chooseNum(0, 25)
    } yield
      if (!plant) lists
      else lists.indices.map(i =>
        (lists(i) :+ (p0 + offs(i) - offs(0))).distinct.sorted).toArray

  /** Position lookup over named lists t0, t1, ... */
  private def lookup(lists: Array[Array[Int]]): String => Array[Int] =
    t => lists(t.drop(1).toInt)

  private def names(from: Int, n: Int): Seq[String] = (from until from + n).map(i => s"t$i")

  /** Runs `Cases` duels; each case yields (oracle, algebra) verdicts. Both
    * outcomes must occur often enough for the agreement to mean something.
    */
  private def duel[A](gen: Gen[A])(verdicts: A => (Boolean, Boolean)): Unit = {
    var matched = 0
    graft.Props.forAll(gen, n = Cases) { a =>
      val (oracle, algebra) = verdicts(a)
      assert(oracle == algebra, s"oracle=$oracle algebra=$algebra")
      if (oracle) matched += 1
    }
    assert(matched >= Cases / 10 && matched <= Cases * 9 / 10,
      s"one-sided duel: $matched of $Cases matched")
  }

  test("SFirst over a term/phrase leaf == matchFirst kernel") {
    val gen = for {
      (lists0, _) <- SpanOracles.positionLists
      offs <- holeOffsets(lists0.length)
      lists <- planted(lists0, offs)
      end <- Gen.chooseNum(0, 35)
    } yield (lists, offs, end)
    duel(gen) { case (lists, offs, end) =>
      val leaf = STerm(names(0, lists.length), offs.toSeq)
      (SpanOracles.matchFirst(lists, offs, end),
        SpanAlgebra.matches(SFirst(leaf, end), lookup(lists)))
    }
  }

  test("SNear over single-term leaves == spanNearOrdered / spanNearUnordered kernels") {
    val gen = for {
      (lists, _) <- SpanOracles.positionLists
      slop <- tightSlop
      // a leading stop word shifts a single term's offset, never its span
      leafOffs <- Gen.listOfN(lists.length, Gen.chooseNum(0, 1))
      ordered <- Gen.oneOf(true, false)
    } yield (lists, slop, leafOffs, ordered)
    duel(gen) { case (lists, slop, leafOffs, ordered) =>
      val leaves = names(0, lists.length).zip(leafOffs)
        .map { case (t, o) => STerm(Seq(t), Seq(o)) }
      val oracle =
        if (ordered) SpanOracles.spanNearOrdered(lists, slop)
        else SpanOracles.spanNearUnordered(lists, slop)
      (oracle, SpanAlgebra.matches(SNear(leaves, slop, ordered), lookup(lists)))
    }
  }

  test("SNear over phrase leaves == spanNearComposite kernel") {
    // the generator's lists, cut into consecutive subspans of 1+ members
    val gen = for {
      (lists0, _) <- SpanOracles.positionLists
      slop <- tightSlop
      cuts <- Gen.listOfN(lists0.length - 1, Gen.oneOf(true, false))
      sizes = cuts.foldLeft(List(1)) { (acc, cut) =>
        if (cut) 1 :: acc else (acc.head + 1) :: acc.tail
      }.reverse
      offs <- Gen.sequence[List[Array[Int]], Array[Int]](sizes.map(holeOffsets))
      spans <- Gen.sequence[List[Array[Array[Int]]], Array[Array[Int]]](
        sizes.scanLeft(0)(_ + _).zip(sizes).zip(offs).map { case ((from, n), o) =>
          planted(lists0.slice(from, from + n), o)
        })
      ordered <- Gen.oneOf(true, false)
    } yield (spans.toArray, offs.toArray, slop, ordered)
    duel(gen) { case (spans, offs, slop, ordered) =>
      val lists = spans.flatten
      val starts = spans.zip(offs).map { case (ls, o) => PhraseMatcher.spanStartsExact(ls, o) }
      val widths = offs.map(o => o.last - o.head + 1)
      val firsts = spans.map(_.length).scanLeft(0)(_ + _)
      val leaves = spans.indices.map(i =>
        STerm(names(firsts(i), spans(i).length), offs(i).toSeq))
      (SpanOracles.spanNearComposite(starts, widths, slop, ordered),
        SpanAlgebra.matches(SNear(leaves, slop, ordered), lookup(lists)))
    }
  }

  test("SNot over two terms == spanNotNear kernel, absent exclude included") {
    val gen = for {
      (lists, dist) <- SpanOracles.positionLists
      incOff <- Gen.chooseNum(0, 1)
      excOff <- Gen.chooseNum(0, 1)
    } yield (lists(0), lists.lift(1).getOrElse(Array.emptyIntArray), dist, incOff, excOff)
    duel(gen) { case (inc, exc, dist, incOff, excOff) =>
      val node = SNot(STerm(Seq("t0"), Seq(incOff)), STerm(Seq("t1"), Seq(excOff)), dist)
      (SpanOracles.spanNotNear(inc, exc, dist),
        SpanAlgebra.matches(node, lookup(Array(inc, exc))))
    }
  }
}
