package graft.core

import scala.collection.mutable

/** Positional phrase verification over per-term position lists
  * [B lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java]
  * [B lucene/core/src/java/org/apache/lucene/search/SloppyPhraseMatcher.java].
  *
  * Positions are the engine's raw token indexes (stop words leave holes,
  * mirroring StopFilter position increments), each list sorted ascending.
  * Runs inside a bucket task at docs where the unscored conjunction has
  * already aligned all phrase terms — the classic two-phase split with the
  * expensive check gated behind the cheap one, except both phases now run
  * off the index alone (no document re-analysis, VERDICT r1 next-3).
  */
object PhraseMatcher {

  /** Exact phrase with explicit QUERY positions (Lucene PhraseQuery
    * add(term, position)): exists p with posLists(i) containing
    * p + offsets(i) - offsets(0) for all i. Stop words removed from the
    * query leave holes in `offsets` exactly like StopFilter position
    * increments leave holes in the indexed positions, so "state of art"
    * matches with offsets (0, 2). `offsets == null` means consecutive.
    */
  def exactMatch(posLists: Array[Array[Int]],
      offsets: Array[Int] = null): Boolean =
    exactFreq(posLists, offsets) > 0

  /** Exact phrase FREQUENCY: number of anchor positions p0 in list 0 such
    * that every list i contains p0 + (offsets(i) - offsets(0)) — Lucene's
    * ExactPhraseMatcher phrase freq, which the similarity then scores like
    * a term tf [B .../search/ExactPhraseMatcher.java,
    * PhraseWeight.java]. Duplicate query terms are fine: the same position
    * list simply appears at several offsets (ADVICE r2 #4).
    */
  def exactFreq(posLists: Array[Array[Int]],
      offsets: Array[Int] = null): Int = {
    val n = posLists.length
    if (n == 0) return 0
    if (n == 1) return posLists(0).length
    var freq = 0
    var c = 0
    while (c < posLists(0).length) {
      val p0 = posLists(0)(c)
      var all = true
      var i = 1
      while (i < n && all) {
        val gap = if (offsets == null) i else offsets(i) - offsets(0)
        if (java.util.Arrays.binarySearch(posLists(i), p0 + gap) < 0) all = false
        i += 1
      }
      if (all) freq += 1
      c += 1
    }
    freq
  }

  /** Two-term sloppy phrase: exists (pa, pb) with |pb - pa - gap| <= slop,
    * where `gap` is the query-position distance (1 for adjacent terms;
    * larger when stop words were removed between them) — the move-count
    * distance ("b a" needs slop 2, "a x b" needs slop 1), matching
    * Lucene's documented slop behavior.
    */
  def sloppyMatch2(a: Array[Int], b: Array[Int], slop: Int,
      gap: Int = 1): Boolean = {
    var i = 0
    while (i < a.length) {
      val lo = a(i) + gap - slop
      val hi = a(i) + gap + slop
      var idx = java.util.Arrays.binarySearch(b, lo)
      if (idx < 0) idx = -idx - 1
      if (idx < b.length && b(idx) <= hi) return true
      i += 1
    }
    false
  }

  /** distance of pos to the nearest element of `sorted` (sorted asc). */
  @inline private def nearestDist(sorted: Array[Int], pos: Int): Int = {
    var idx = java.util.Arrays.binarySearch(sorted, pos)
    if (idx >= 0) return 0
    idx = -idx - 1
    var d = Int.MaxValue
    if (idx < sorted.length) d = sorted(idx) - pos
    if (idx > 0 && pos - sorted(idx - 1) < d) d = pos - sorted(idx - 1)
    d
  }

  /** Anchor positions where the exact phrase matches — exactFreq's loop
    * collecting the qualifying p0s instead of counting them. The spans a
    * composite span query consumes: each anchor starts a span of width
    * offsets(n-1) - offsets(0) + 1 (1 when offsets == null covers a term).
    */
  def spanStartsExact(posLists: Array[Array[Int]],
      offsets: Array[Int] = null): Array[Int] = {
    val n = posLists.length
    if (n == 0) return Array.emptyIntArray
    if (n == 1) return posLists(0)
    val out = new mutable.ArrayBuilder.ofInt
    var c = 0
    while (c < posLists(0).length) {
      val p0 = posLists(0)(c)
      var all = true
      var i = 1
      while (i < n && all) {
        val gap = if (offsets == null) i else offsets(i) - offsets(0)
        if (java.util.Arrays.binarySearch(posLists(i), p0 + gap) < 0) all = false
        i += 1
      }
      if (all) out += p0
      c += 1
    }
    out.result()
  }

  /** N-term sloppy phrase FREQUENCY — graft's deterministic generalization
    * of Lucene's SloppyPhraseMatcher (whose N-term match enumeration is
    * order-dependent; [B .../search/SloppyPhraseMatcher.java] documents the
    * sloppyWeight = 1/(distance+1) contribution this keeps): anchor on each
    * position p0 of term 0 and charge the total displacement
    *
    *   d(p0) = sum_i  min_{q in posLists(i)} | q - (p0 + gap_i) |,
    *   gap_i = offsets(i) - offsets(0)
    *
    * (the fewest single-token moves to assemble the phrase at p0, allowing
    * reordering — "b a" has d=2 with slop-2 semantics, matching
    * sloppyMatch2's documented move-count distance for 2 terms). Anchors
    * with d <= slop contribute 1/(d+1); the sum is the phrase freq. For 2
    * terms (d = |pb - pa - gap|) this is exactly Lucene's weighting.
    */
  def sloppyFreq(posLists: Array[Array[Int]], offsets: Array[Int],
      slop: Int): Double = {
    val n = posLists.length
    if (n == 0) return 0.0
    if (n == 1) return posLists(0).length.toDouble
    var freq = 0.0
    var c = 0
    while (c < posLists(0).length) {
      val p0 = posLists(0)(c)
      var d = 0L
      var i = 1
      while (i < n && d <= slop) {
        val gap = if (offsets == null) i else offsets(i) - offsets(0)
        d += nearestDist(posLists(i), p0 + gap)
        i += 1
      }
      if (d <= slop) freq += 1.0 / (d + 1.0)
      c += 1
    }
    freq
  }
}
