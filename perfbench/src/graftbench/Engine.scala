package graftbench

import graft.{QuerySpec, TreeQuery}
import graft.core.Analyzer
import graft.index.Index
import graft.search.{NaiveSearch, QueryEngine}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The benchmark's calls into the query path, and the NaiveSearch duel. */
object Engine {
  type Hits = Seq[(Long, Double)]

  def treeOf(q: QuerySpec): TreeQuery = {
    val a = QueryEngine.analyzeQuery(q, Analyzer.EnglishStopWords)
    TreeQuery(q.qid, QueryEngine.treeOf(a), q.k)
  }

  /** Run queries in ONE engine call per kind (flat specs through `search`,
    * tree queries through `searchTrees`); hits per qid in rank order.
    */
  def run(reader: Index.Reader, qs: Seq[Inputs.StreamQuery]): Map[String, Hits] = {
    val (trees, flats) = qs.partition(_.tree)
    val got =
      (if (flats.isEmpty) Array.empty[graft.ScoredDoc]
       else QueryEngine.search(reader, flats.map(_.spec)).collect()) ++
      (if (trees.isEmpty) Array.empty[graft.ScoredDoc]
       else QueryEngine.searchTrees(reader, trees.map(q => treeOf(q.spec))).collect())
    val byQ = got.groupBy(_.qid)
    qs.map(q => q.spec.qid -> byQ.getOrElse(q.spec.qid, Array.empty)
      .sortBy(h => (-h.score, h.docId)).map(h => (h.docId, h.score)).toSeq).toMap
  }

  /** Rank-identical docIds and scores within 1e-9, else a description. */
  def compare(got: Hits, want: Hits): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"rank mismatch got=${got.map(_._1).take(5)} want=${want.map(_._1).take(5)}")
    else got.zip(want).collectFirst {
      case ((_, a), (_, b)) if math.abs(a - b) >= 1e-9 => s"score drift $a vs $b"
    }

  /** Exhaustive NaiveSearch oracle over the corpus the index was built
    * from, keyed by the index's own docIds (joined on repo/path), for the
    * given specs. The token table is cut to the specs' terms before it is
    * cached, as DuelApp does.
    */
  def naive(reader: Index.Reader, corpusDir: String,
      specs: Seq[QuerySpec]): Map[String, Hits] = {
    val spark = reader.spark
    import spark.implicits._
    val keyed = spark.read.parquet(corpusDir)
      .join(reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
    val terms = specs.map(QueryEngine.analyzeQuery(_, Analyzer.EnglishStopWords))
      .flatMap(a => a.should ++ a.must ++ a.mustNot).distinct
    val tokens = NaiveSearch.tokenTable(keyed, "docId", "content")
      .where($"term".isin(terms: _*)).persist(StorageLevel.MEMORY_AND_DISK)
    // the cut token table is small: one shuffle partition per oracle stage
    val shuffleKey = "spark.sql.shuffle.partitions"
    val shuffleParts = spark.conf.get(shuffleKey)
    spark.conf.set(shuffleKey, "1")
    try {
      val stats = reader.stats
      // independent oracle jobs, submitted from a few threads at once
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val all = scala.concurrent.Future.traverse(specs) { q =>
        scala.concurrent.Future {
          val hits = q.langFilter match {
            case None => NaiveSearch.scoreQuery(tokens, q, stats)
            case Some(lang) =>
              NaiveSearch.scoreQuery(tokens, q.copy(k = Int.MaxValue), stats)
                .join(reader.docMeta.where($"lang" === lang).select($"docId"), "docId")
                .orderBy(desc("score"), asc("docId")).limit(q.k)
                .select($"docId", $"score")
          }
          q.qid -> hits.as[(Long, Double)].collect().toSeq
        }
      }
      try scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf).toMap
      finally pool.shutdown()
    } finally {
      spark.conf.set(shuffleKey, shuffleParts)
      tokens.unpersist()
    }
  }
}
