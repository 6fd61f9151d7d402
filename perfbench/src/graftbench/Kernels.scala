package graftbench

import graft.{CorpusIds, PostingBlock, QuerySpec, SourceDoc}
import graft.core.{Analyzer, Bm25, BmwScorer, PostingBlocks, SmallFloatUtil, TermsHash}
import graft.index.Index
import graft.search.QueryEngine

/** Single-threaded replays of the engine's per-record kernels on the
  * driver, over inputs the workload itself produced. Each replay repeats
  * its pass until at least `MinSeconds` have gone by and reports a rate.
  */
object Kernels {
  val MinSeconds = 0.3

  private def rate(units: Double)(pass: => Unit): Double = {
    pass // one untimed pass: class loading and JIT
    var reps = 0
    val t0 = System.nanoTime()
    while (reps == 0 || (System.nanoTime() - t0) / 1e9 < MinSeconds) { pass; reps += 1 }
    units * reps / ((System.nanoTime() - t0) / 1e9)
  }

  /** MB of content per second through `Analyzer.analyze`. */
  def analyzeMbPerS(docs: Seq[SourceDoc]): Double = {
    val mb = docs.iterator.map(_.content.length.toLong).sum / 1e6
    var sink = 0L
    val r = rate(mb)(docs.foreach(d => sink += Analyzer.analyze(d.content).length))
    if (sink < 0) println(sink)
    r
  }

  /** Docs per second through `TermsHash.addDoc`/`finishDoc`, the in-task
    * flush accumulator.
    */
  def termsHashDocsPerS(docs: Seq[SourceDoc]): Double =
    rate(docs.size) {
      val th = new TermsHash(Analyzer.EnglishStopWords)
      var id = 0L
      docs.foreach { d =>
        val n = th.addDoc(d.content)
        th.finishDoc(id, SmallFloatUtil.intToByte4(n))
        id += 1
      }
    }

  /** The postings blocks of `terms`, per term, collected from the index. */
  def blocksOf(reader: Index.Reader, terms: Seq[String]): Map[String, Array[PostingBlock]] = {
    import reader.spark.implicits._
    if (terms.isEmpty) return Map.empty
    reader.postingsForTerms(terms).where($"term".isin(terms: _*)).collect()
      .groupBy(_.term).map { case (t, rows) =>
        t -> rows.flatMap(_.blocks).sortBy(_.firstDocId)
      }
  }

  /** Millions of decoded values per second through `PostingBlocks.decode`,
    * counting a docId, a tf and a norm per posting.
    */
  def decodeMintsPerS(blocks: Seq[PostingBlock]): Double = {
    val values = blocks.iterator.map(_.count.toLong).sum * 3 / 1e6
    rate(values)(blocks.foreach(PostingBlocks.decode))
  }

  /** Replays block-max WAND over the pure-disjunction queries, per docId
    * bucket as the engine does. Returns (accept calls / postings of the
    * query terms, microseconds per query).
    */
  def wand(reader: Index.Reader, queries: Seq[QuerySpec],
      blocks: Map[String, Array[PostingBlock]]): (Double, Double) = {
    val sim = Bm25()
    val st = reader.stats
    val cache = sim.normTable(st.avgdl)
    val analyzed = queries.map(QueryEngine.analyzeQuery(_, Analyzer.EnglishStopWords))
      .filter(q => q.must.isEmpty && q.mustNot.isEmpty && q.langFilter.isEmpty &&
        q.should.exists(blocks.contains))
    if (analyzed.isEmpty) return (Double.NaN, Double.NaN)
    val dfs = reader.termStatsMap(analyzed.flatMap(_.should).distinct)
    var accepts = 0L
    var postings = 0L
    def once(): Unit = {
      accepts = 0L
      postings = 0L
      analyzed.foreach { q =>
        val perBucket = q.should.filter(blocks.contains).flatMap { t =>
          blocks(t).groupBy(b => CorpusIds.partitionOf(b.firstDocId)).toSeq
            .map { case (bucket, bs) => (bucket, t, bs) }
        }.groupBy(_._1)
        perBucket.values.foreach { ts =>
          val iters = ts.zipWithIndex.map { case ((_, t, bs), tag) =>
            val (df, ttf) = dfs(t)
            postings += bs.iterator.map(_.count.toLong).sum
            new BmwScorer.TermIterator(
              sim.weightFull(df, ttf, st.docCount, st.sumTotalTermFreq, 1.0),
              cache, bs, tag, sim)
          }.toArray
          BmwScorer.wandTopK(iters, q.k, _ => { accepts += 1; true },
            new BmwScorer.TopKHeap(q.k))
        }
      }
    }
    val perSec = rate(analyzed.size)(once())
    (accepts.toDouble / math.max(1L, postings), 1e6 / perSec)
  }

  /** All kernel metrics for a corpus sample and a set of flat queries. */
  def layerMetrics(reader: Index.Reader, docs: Seq[SourceDoc],
      queries: Seq[QuerySpec]): Map[String, Double] = {
    val terms = queries.map(QueryEngine.analyzeQuery(_, Analyzer.EnglishStopWords))
      .flatMap(q => q.should ++ q.must).distinct
    val blocks = blocksOf(reader, terms)
    val (evalRatio, usPerQuery) = wand(reader, queries, blocks)
    Map(
      "core.analyze_mb_per_s" -> analyzeMbPerS(docs),
      "core.termshash_docs_per_s" -> termsHashDocsPerS(docs),
      "core.decode_mints_per_s" -> decodeMintsPerS(blocks.values.flatten.toSeq),
      "core.wand_eval_ratio" -> evalRatio,
      "core.wand_us_per_query" -> usPerQuery)
  }
}
