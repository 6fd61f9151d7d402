package graft.apps

import graft._
import graft.index.Index
import graft.search.{NaiveSearch, QueryEngine, ReferenceQueries}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Rank-identity duel at ANY corpus scale (VERDICT r4 next-4: correctness
  * had only been proven at sf0.001/0.01 — sf1 was bench-only): run the
  * 20-query reference set through the WAND engine AND through the
  * independent exhaustive NaiveSearch oracle over the same corpus, and
  * assert rank-identical docIDs with scores equal to 1e-9 — the
  * BASELINE.json contract ("top-k docIDs + BM25 scores rank-identical")
  * executed at full corpus size instead of inside a 3k-doc ScalaTest.
  * Both scored evaluators and both merge modes duel: the flat WAND path
  * with the driver merge and with the distributed groupByKey(qid) merge
  * (mergeCollectMax = 0), and the clause-tree path over treeOf of every
  * non-DisMax query.
  *
  * One corpus tokenize total: the oracle's token table is filtered to the
  * union of all reference-query terms BEFORE persist, so the naive side
  * costs one scan plus 20 tiny aggregates over query-term rows — the
  * independence of the oracle (no postings, no compression, no WAND) is
  * untouched; only its input table is pre-pruned to the terms any query
  * can touch.
  *
  * args: <corpusDir> <indexDir>  (both already built, e.g. by BuildIndexApp)
  * Exits 1 on any mismatch; prints one JSON line for artifact capture.
  */
object DuelApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DuelApp <corpusDir> <indexDir>")
    val (corpusDir, indexDir) = (args(0), args(1))
    val spark = SparkEnv.session("graft-duel")
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val reader = Index.reader(spark, indexDir)
    val queries = ReferenceQueries.all
    def byQid(hits: Array[ScoredDoc]): Map[String, Seq[ScoredDoc]] =
      hits.groupBy(_.qid)
        .map { case (q, hs) => q -> hs.sortBy(h => (-h.score, h.docId)).toSeq }
    val t0 = System.nanoTime()
    val got = byQid(QueryEngine.search(reader, queries).collect())
    val engineSecs = (System.nanoTime() - t0) / 1e9
    val analyzed = queries.map(q =>
      QueryEngine.analyzeQuery(q, graft.core.Analyzer.EnglishStopWords))
    val treeable = analyzed.filter(_.dismaxTiebreak.isEmpty)
    // (label, qids it answers, hits): every run must match the same oracle
    val runs: Seq[(String, Set[String], Map[String, Seq[ScoredDoc]])] = Seq(
      ("wand", queries.map(_.qid).toSet, got),
      ("wand-shuffle-merge", queries.map(_.qid).toSet,
        byQid(QueryEngine.search(reader, queries, mergeCollectMax = 0).collect())),
      ("tree", treeable.map(_.qid).toSet, byQid(QueryEngine.searchTrees(reader,
        treeable.map(q => TreeQuery(q.qid, QueryEngine.treeOf(q), q.k))).collect())))

    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
    val allTerms = analyzed.flatMap(a => a.should ++ a.must ++ a.mustNot).distinct
    val t1 = System.nanoTime()
    val tokens = NaiveSearch.tokenTable(keyed, "docId", "content")
      .where($"term".isin(allTerms: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tokenRows = tokens.count()
    val stats = reader.stats
    var bad = List.empty[String]
    var checked = 0
    for (q <- queries) {
      val naive: Seq[(Long, Double)] = q.langFilter match {
        case None =>
          NaiveSearch.scoreQuery(tokens, q, stats)
            .as[(Long, Double)].collect().toSeq
        case Some(lang) => // filter applied distributed — no lang map collect
          NaiveSearch.scoreQuery(tokens, q.copy(k = Int.MaxValue), stats)
            .join(reader.docMeta.where($"lang" === lang).select($"docId"), "docId")
            .orderBy(desc("score"), asc("docId")).limit(q.k)
            .select($"docId", $"score")
            .as[(Long, Double)].collect().toSeq
      }
      for ((label, qids, run) <- runs if qids(q.qid)) {
        val engine = run.getOrElse(q.qid, Seq.empty)
        if (engine.map(_.docId) != naive.map(_._1))
          bad ::= s"$label ${q.qid}: rank mismatch engine=${engine.map(_.docId).take(5)} naive=${naive.map(_._1).take(5)}"
        else engine.zip(naive).foreach { case (e, (_, sc)) =>
          if (math.abs(e.score - sc) >= 1e-9)
            bad ::= s"$label ${q.qid}: score drift ${e.score} vs $sc"
        }
        checked += engine.size
      }
    }
    val oracleSecs = (System.nanoTime() - t1) / 1e9
    val docCount = stats.docCount
    println(s"""[graft-duel] {"docs":$docCount,"queries":${queries.size},""" +
      s""""runs":${runs.size},"hits_checked":$checked,"oracle_token_rows":$tokenRows,""" +
      s""""engine_secs":${f"$engineSecs%.2f"},"oracle_secs":${f"$oracleSecs%.2f"},""" +
      s""""mismatches":${bad.size},"pass":${bad.isEmpty}}""")
    bad.reverse.foreach(m => System.err.println(s"[graft-duel] FAIL $m"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
