package graft.search

import graft.core.PhraseMatcher
import scala.collection.mutable

/** The composable span-query algebra
  * [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanQuery.java],
  * the one evaluator behind every span query, flat shapes (SpanFirst over a
  * term or phrase, SpanNear over terms, SpanNot over two terms) included.
  * The nodes CLOSE under composition — SpanOr under SpanNear, SpanNot as a
  * subspan, SpanFirst wrapping a composite — by evaluating every node to
  * its full set of (start, end) occurrence spans within one document,
  * exactly the Spans enumeration contract Lucene's span weights expose
  * [B .../queries/spans/Spans.java].
  *
  * A span is packed into one Long as (start << 32) | end (end exclusive:
  * a single token at position p is the span [p, p+1)), so span sets are
  * sorted longs — sorting by the packed value orders by (start, end) — and
  * set algebra stays allocation-light inside bucket tasks. Per-doc cost is
  * bounded by the document's position-list sizes (spans per node are
  * deduplicated, so never more than O(positions^2) distinct pairs); the
  * expensive enumeration only runs at docs that already passed the cheap
  * term-alignment phase, the same two-phase gate as phrases.
  */
sealed trait SpanNode extends Serializable

object SpanNode {
  /** Leaf: a term (length 1) or exact phrase with stop-hole query offsets
    * (SpanTermQuery / the exact-phrase span SpanNearQuery builds from
    * adjacent terms). Matches at anchor p with span
    * [p, p + offsets.last - offsets.head + 1).
    */
  final case class STerm(terms: Seq[String], offsets: Seq[Int]) extends SpanNode {
    require(terms.nonEmpty && terms.length == offsets.length)
  }

  /** SpanOrQuery [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanOrQuery.java]:
    * the union of the children's spans.
    */
  final case class SOr(children: Seq[SpanNode]) extends SpanNode

  /** SpanNearQuery over arbitrary subspans
    * [B .../queries/spans/SpanNearQuery.java]: one span per child, chained
    * in query order without overlap (ordered — next.start >= prev.end,
    * NearSpansOrdered) or covered by any-order window (unordered,
    * NearSpansUnordered), with slack = (last.end - first.start) - sum of
    * the PICKED spans' widths <= slop. Emits the enclosing window
    * (first.start, last.end) — the span the composite itself occupies,
    * which is what makes further nesting meaningful.
    */
  final case class SNear(children: Seq[SpanNode], slop: Int,
      ordered: Boolean) extends SpanNode {
    require(children.nonEmpty)
  }

  /** SpanNotQuery [B .../queries/spans/SpanNotQuery.java] with a symmetric
    * pre/post window: include spans with NO exclude span within `dist`
    * (an exclude span [s2,e2) kills include [s,e) iff it overlaps
    * [s - dist, e + dist) — for single-token spans, the |q - p| <= dist
    * window). The exclude side is optional: without it every include span
    * survives.
    */
  final case class SNot(include: SpanNode, exclude: SpanNode,
      dist: Int) extends SpanNode

  /** SpanFirstQuery [B .../queries/spans/SpanFirstQuery.java]: child spans
    * whose END (exclusive) is <= `end` — a term or phrase anchored at p
    * qualifies iff p + width <= end; any composite child works the same.
    */
  final case class SFirst(child: SpanNode, end: Int) extends SpanNode

  /** SpanPositionRangeQuery [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanPositionRangeQuery.java]:
    * child spans lying entirely inside the position window
    * [start, end] — start <= span.start && span.end <= end. SpanFirst is
    * the start=0 special case.
    */
  final case class SPosRange(child: SpanNode, start: Int, end: Int) extends SpanNode

  /** SpanContainingQuery [B .../queries/spans/SpanContainingQuery.java]:
    * spans of `big` that contain at least one `little` span
    * (big.start <= little.start && little.end <= big.end). Emits the BIG
    * span, Lucene's ContainSpans with the big side as the driving spans.
    */
  final case class SContaining(big: SpanNode, little: SpanNode) extends SpanNode

  /** SpanWithinQuery [B .../queries/spans/SpanWithinQuery.java]: spans of
    * `little` that lie within some `big` span — the same containment test,
    * emitting the LITTLE side.
    */
  final case class SWithin(little: SpanNode, big: SpanNode) extends SpanNode

  /** Single-term leaf. */
  def term(t: String): STerm = STerm(Seq(t), Seq(0))

  /** Every posting-list term the tree touches (for the pushed-down scan). */
  def allTerms(n: SpanNode): Seq[String] = n match {
    case STerm(ts, _) => ts
    case SOr(cs) => cs.flatMap(allTerms)
    case SNear(cs, _, _) => cs.flatMap(allTerms)
    case SNot(i, e, _) => allTerms(i) ++ allTerms(e)
    case SFirst(c, _) => allTerms(c)
    case SPosRange(c, _, _) => allTerms(c)
    case SContaining(b, l) => allTerms(b) ++ allTerms(l)
    case SWithin(l, b) => allTerms(l) ++ allTerms(b)
  }

  /** Terms a matching doc MUST contain — the cheap-phase conjunction
    * driver. Nothing under an SOr is individually required (any one branch
    * suffices), and the exclude side of SNot must NOT be required (docs
    * without the excluded term match trivially).
    */
  def requiredTerms(n: SpanNode): Seq[String] = n match {
    case STerm(ts, _) => ts
    case SOr(_) => Nil
    case SNear(cs, _, _) => cs.flatMap(requiredTerms)
    case SNot(i, _, _) => requiredTerms(i)
    case SFirst(c, _) => requiredTerms(c)
    case SPosRange(c, _, _) => requiredTerms(c)
    // a containment match needs BOTH sides present in the doc
    case SContaining(b, l) => requiredTerms(b) ++ requiredTerms(l)
    case SWithin(l, b) => requiredTerms(l) ++ requiredTerms(b)
  }
}

object SpanAlgebra {
  import SpanNode._

  @inline def pack(start: Int, end: Int): Long = (start.toLong << 32) | end
  @inline def startOf(span: Long): Int = (span >>> 32).toInt
  @inline def endOf(span: Long): Int = (span & 0xffffffffL).toInt

  private val Empty = Array.emptyLongArray

  /** Sort ascending and drop duplicates in place-ish. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length <= 1) return a
    java.util.Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** All spans of `node` in the current document. `pos` maps a term to its
    * sorted position list there (empty when the term is absent — SOr
    * branches and SNot excludes must survive absent terms). Result is
    * sorted by (start, end), duplicate-free.
    */
  def eval(node: SpanNode, pos: String => Array[Int]): Array[Long] = node match {
    case STerm(ts, offs) =>
      val posLists = ts.map(pos).toArray
      if (posLists.exists(_.isEmpty)) Empty
      else {
        val offArr = offs.toArray
        val width = offArr(offArr.length - 1) - offArr(0) + 1
        val starts = PhraseMatcher.spanStartsExact(posLists, offArr)
        val out = new Array[Long](starts.length)
        var i = 0
        while (i < starts.length) { out(i) = pack(starts(i), starts(i) + width); i += 1 }
        out // anchors ascend and width is constant: already sorted+distinct
      }

    case SOr(cs) =>
      val parts = cs.map(eval(_, pos)).filter(_.nonEmpty)
      if (parts.isEmpty) Empty
      else if (parts.length == 1) parts.head
      else sortedDistinct(Array.concat(parts: _*))

    case SNear(cs, slop, ordered) =>
      val childSpans = cs.map(eval(_, pos)).toArray
      if (childSpans.exists(_.isEmpty)) Empty
      else if (ordered) nearOrdered(childSpans, slop)
      else nearUnordered(childSpans, slop)

    case SNot(inc, exc, dist) =>
      val in = eval(inc, pos)
      if (in.isEmpty) Empty
      else {
        val ex = eval(exc, pos)
        if (ex.isEmpty) in
        else in.filter { s =>
          val s0 = startOf(s); val e0 = endOf(s)
          // exclude overlaps [s0 - dist, e0 + dist)?
          !ex.exists(x => startOf(x) < e0 + dist && endOf(x) > s0 - dist)
        }
      }

    case SFirst(c, end) =>
      val in = eval(c, pos)
      if (in.isEmpty) Empty else in.filter(endOf(_) <= end)

    case SPosRange(c, lo, hi) =>
      val in = eval(c, pos)
      if (in.isEmpty) Empty
      else in.filter(s => startOf(s) >= lo && endOf(s) <= hi)

    case SContaining(big, little) =>
      val b = eval(big, pos)
      if (b.isEmpty) Empty
      else {
        val l = eval(little, pos)
        if (l.isEmpty) Empty
        else b.filter { s =>
          val s0 = startOf(s); val e0 = endOf(s)
          l.exists(x => s0 <= startOf(x) && endOf(x) <= e0)
        }
      }

    case SWithin(little, big) =>
      val l = eval(little, pos)
      if (l.isEmpty) Empty
      else {
        val b = eval(big, pos)
        if (b.isEmpty) Empty
        else l.filter { s =>
          val s0 = startOf(s); val e0 = endOf(s)
          b.exists(x => startOf(x) <= s0 && e0 <= endOf(x))
        }
      }
  }

  /** exists-a-span shortcut (the per-doc accept check). */
  def matches(node: SpanNode, pos: String => Array[Int]): Boolean =
    eval(node, pos).nonEmpty

  /** Ordered composition: chain one span per child, next.start >= prev.end,
    * accumulated gap sum (== total slack, since the chain is non-overlapping
    * in order) <= slop. DFS over the sorted child span lists with the gap
    * budget as the prune — each child's candidates are a contiguous start
    * range [prevEnd, prevEnd + remaining budget], found by binary search.
    */
  private def nearOrdered(children: Array[Array[Long]], slop: Int): Array[Long] = {
    val n = children.length
    val out = new mutable.ArrayBuilder.ofLong
    def dfs(j: Int, firstStart: Int, prevEnd: Int, gapSum: Int): Unit = {
      if (j == n) { out += pack(firstStart, prevEnd); return }
      val spans = children(j)
      // first span with start >= prevEnd: packed order == (start, end) order
      var idx = java.util.Arrays.binarySearch(spans, pack(prevEnd, 0))
      if (idx < 0) idx = -idx - 1
      while (idx < spans.length &&
          startOf(spans(idx)) - prevEnd + gapSum <= slop) {
        val s = spans(idx)
        dfs(j + 1, firstStart, endOf(s), gapSum + (startOf(s) - prevEnd))
        idx += 1
      }
    }
    var c = 0
    while (c < children(0).length) {
      val s = children(0)(c)
      dfs(1, startOf(s), endOf(s), 0)
      c += 1
    }
    sortedDistinct(out.result())
  }

  /** Unordered composition: one span per child anywhere, window slack
    * (maxEnd - minStart) - sum(picked widths) <= slop. DFS with an
    * optimistic prune: remaining children can add at most their widest
    * span to the width sum and only grow the window, so a partial pick
    * whose best-case slack already exceeds slop is dead.
    */
  private def nearUnordered(children: Array[Array[Long]], slop: Int): Array[Long] = {
    val n = children.length
    val maxWidth = children.map(_.iterator.map(s => endOf(s) - startOf(s)).max)
    // suffix sums of the per-child max widths (optimistic future width gain)
    val futureW = new Array[Int](n + 1)
    var i = n - 1
    while (i >= 0) { futureW(i) = futureW(i + 1) + maxWidth(i); i -= 1 }
    val out = new mutable.ArrayBuilder.ofLong
    def dfs(j: Int, minS: Int, maxE: Int, wsum: Int): Unit = {
      if (j == n) {
        if ((maxE - minS) - wsum <= slop) out += pack(minS, maxE)
        return
      }
      // optimistic: window can only grow, future widths at most futureW(j)
      // (guard j > 0: the empty pick's sentinel window would overflow)
      if (j > 0 && (maxE - minS) - wsum - futureW(j) > slop) return
      val spans = children(j)
      var c = 0
      while (c < spans.length) {
        val s = spans(c)
        dfs(j + 1, math.min(minS, startOf(s)), math.max(maxE, endOf(s)),
          wsum + (endOf(s) - startOf(s)))
        c += 1
      }
    }
    dfs(0, Int.MaxValue, Int.MinValue, 0)
    sortedDistinct(out.result())
  }
}
