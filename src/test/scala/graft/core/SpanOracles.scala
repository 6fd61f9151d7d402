package graft.core

import org.scalacheck.Gen

/** Fixed-shape span kernels, kept in test scope as duel oracles for the
  * composable SpanAlgebra that serves every span query: each covers one
  * flat shape (SpanFirst over a term/phrase, SpanNear over single terms or
  * term/phrase subspans, SpanNot over two terms) with its own direct scan,
  * so an algebra regression on those shapes shows up as a disagreement.
  */
object SpanOracles {

  /** Small random position lists (1-4 lists of 0-5 distinct sorted
    * positions in [0, 30]) plus a slop in [0, 10]: dense enough for matches
    * and misses, small enough for brute-force enumeration.
    */
  val positionLists: Gen[(Array[Array[Int]], Int)] = for {
    n <- Gen.chooseNum(1, 4)
    lists <- Gen.listOfN(n, for {
      sz <- Gen.chooseNum(0, 5)
      ps <- Gen.listOfN(sz, Gen.chooseNum(0, 30))
    } yield ps.distinct.sorted.toArray)
    slop <- Gen.chooseNum(0, 10)
  } yield (lists.toArray, slop)

  /** SpanFirstQuery [B lucene/core/src/java/org/apache/lucene/search/spans/SpanFirstQuery.java]:
    * an occurrence of the exact-phrase (or single-term) span whose END
    * position is <= `end` — Lucene's endPosition is last-token position + 1,
    * so a 1-term span at position p qualifies iff p + 1 <= end. Anchors are
    * ascending, so the first anchor past the window proves no match.
    */
  def matchFirst(posLists: Array[Array[Int]], offsets: Array[Int],
      end: Int): Boolean = {
    val n = posLists.length
    if (n == 0) return false
    val span = if (offsets == null) n - 1 else offsets(n - 1) - offsets(0)
    var c = 0
    while (c < posLists(0).length) {
      val p0 = posLists(0)(c)
      if (p0 + span + 1 > end) return false
      if (n == 1) return true
      var all = true
      var i = 1
      while (i < n && all) {
        val gap = if (offsets == null) i else offsets(i) - offsets(0)
        if (java.util.Arrays.binarySearch(posLists(i), p0 + gap) < 0) all = false
        i += 1
      }
      if (all) return true
      c += 1
    }
    false
  }

  /** SpanNearQuery(ordered) over single-term subspans
    * [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanNearQuery.java,
    * NearSpansOrdered.java]: positions p_0 < p_1 < ... < p_{n-1}, one from
    * each list IN QUERY ORDER (each next span starts after the previous
    * ends — single-token spans, so strictly increasing), with total slack
    * (p_{n-1} - p_0 + 1) - n <= slop. Existence via the greedy minimal
    * chain: for each anchor p_0 take the smallest qualifying p_i at every
    * step — minimal end for that anchor, so greedy is exact for existence.
    */
  def spanNearOrdered(posLists: Array[Array[Int]], slop: Int): Boolean = {
    val n = posLists.length
    if (n == 0) return false
    if (n == 1) return posLists(0).nonEmpty
    var c = 0
    while (c < posLists(0).length) {
      val p0 = posLists(0)(c)
      var prev = p0
      var ok = true
      var i = 1
      while (i < n && ok) {
        // smallest position in list i strictly greater than prev
        var idx = java.util.Arrays.binarySearch(posLists(i), prev + 1)
        if (idx < 0) idx = -idx - 1
        if (idx >= posLists(i).length) ok = false
        else prev = posLists(i)(idx)
        i += 1
      }
      if (ok && (prev - p0 + 1) - n <= slop) return true
      c += 1
    }
    false
  }

  /** SpanNearQuery(unordered) over single-term subspans
    * [B .../queries/spans/NearSpansUnordered.java]: a window containing at
    * least one position from EVERY list, in any order, with slack
    * (max - min + 1) - n <= slop. Minimal-window sweep over the merged
    * position stream (the classic k-list minimal-cover two-pointer): at
    * each merged position advance the smallest head, tracking the window
    * that covers all lists.
    */
  def spanNearUnordered(posLists: Array[Array[Int]], slop: Int): Boolean = {
    val n = posLists.length
    if (n == 0) return false
    if (n == 1) return posLists(0).nonEmpty
    val idx = new Array[Int](n)
    while (true) {
      var minI = 0
      var minP = Int.MaxValue
      var maxP = Int.MinValue
      var i = 0
      while (i < n) {
        if (idx(i) >= posLists(i).length) return false
        val p = posLists(i)(idx(i))
        if (p < minP) { minP = p; minI = i }
        if (p > maxP) maxP = p
        i += 1
      }
      if ((maxP - minP + 1) - n <= slop) return true
      idx(minI) += 1 // slide: only dropping the window's min can shrink it
    }
    false
  }

  /** SpanNearQuery over COMPOSITE subspans (term or exact-phrase), the
    * nested span algebra [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanNearQuery.java]:
    * each subspan i contributes spans [s, s + widths(i)) at its anchor
    * starts. Within a list every span has the SAME width, so span end is
    * monotone in start — greedy "first start past the bound" is exact.
    *
    * ordered: spans chain in query order without overlap (next.start >=
    * prev.end); slack = (last.end - first.start) - sum(widths) <= slop.
    * unordered: a window holding one span per list; slack =
    * (max.end - min.start) - sum(widths) <= slop. Exactness by anchoring
    * on every span as the window minimum: any feasible configuration has
    * a min-start pick, and replacing each other pick by its list's
    * earliest span starting >= that min only shrinks the window.
    */
  def spanNearComposite(starts: Array[Array[Int]], widths: Array[Int],
      slop: Int, ordered: Boolean): Boolean = {
    val n = starts.length
    if (n == 0) return false
    var i = 0
    while (i < n) { if (starts(i).isEmpty) return false; i += 1 }
    var wsum = 0
    i = 0
    while (i < n) { wsum += widths(i); i += 1 }
    if (ordered) {
      var c = 0
      while (c < starts(0).length) {
        val s0 = starts(0)(c)
        var prevEnd = s0 + widths(0)
        var ok = true
        var j = 1
        while (j < n && ok) {
          var idx = java.util.Arrays.binarySearch(starts(j), prevEnd)
          if (idx < 0) idx = -idx - 1
          if (idx >= starts(j).length) ok = false
          else prevEnd = starts(j)(idx) + widths(j)
          j += 1
        }
        if (ok && (prevEnd - s0) - wsum <= slop) return true
        c += 1
      }
      false
    } else {
      // every span is a candidate window minimum
      var j = 0
      while (j < n) {
        var c = 0
        while (c < starts(j).length) {
          val s = starts(j)(c)
          var maxEnd = Int.MinValue
          var ok = true
          var k = 0
          while (k < n && ok) {
            var idx = java.util.Arrays.binarySearch(starts(k), s)
            if (idx < 0) idx = -idx - 1
            if (idx >= starts(k).length) ok = false
            else {
              val e = starts(k)(idx) + widths(k)
              if (e > maxEnd) maxEnd = e
            }
            k += 1
          }
          if (ok && (maxEnd - s) - wsum <= slop) return true
          c += 1
        }
        j += 1
      }
      false
    }
  }

  /** SpanNotQuery [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanNotQuery.java]
    * over single-term spans with a symmetric exclusion window (the pre/post
    * form): SOME occurrence of the include term must sit more than `dist`
    * positions from EVERY occurrence of the exclude term. Both lists
    * ascending; a moving lower-bound pointer keeps the scan linear.
    */
  def spanNotNear(include: Array[Int], exclude: Array[Int], dist: Int): Boolean = {
    if (include.isEmpty) return false
    if (exclude.isEmpty) return true
    var i = 0
    var j = 0
    while (i < include.length) {
      val p = include(i)
      // advance j past exclusions entirely below the window
      while (j < exclude.length && exclude(j) < p - dist) j += 1
      if (j >= exclude.length || exclude(j) > p + dist) return true
      i += 1
    }
    false
  }
}
