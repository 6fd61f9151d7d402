package graftbench

import graft.{PartitionLineage, QuerySpec, SourceDoc}
import graft.core.Analyzer
import graft.corpus.CorpusGen
import graft.index.{Index, IndexBuilder, IndexConfig}
import graft.search.{QueryEngine, ReferenceQueries}
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** `index`: the engine's own write and read paths on one seeded corpus.
  *
  *  1. a bulk `Index.build` of the corpus;
  *  2. a reader opened on that build serves a fixed-length seeded query
  *     stream, one query per call (closed loop, one client), in whole
  *     rounds, each on a newly opened reader, until the time is up; then
  *     the same stream again as multi-query batches;
  *  3. a near-real-time tail of small `appendBatch` steps, the 4th one an
  *     `updateByTerm`. Each step plants a unique marker term that a freshly
  *     opened reader must find; one mixed query then runs on that reader.
  *
  * The stream runs before the tail, so query latency carries none of the
  * tail's append costs, and its reader (pinned to the bulk snapshot) sees
  * exactly the corpus NaiveSearch duels against.
  */
object IndexWorkload {
  val BulkDocs = 8000L
  val WarmDocs = 500L
  /** 12 first-seen queries (6 reference, 6 generated: one of each of
    * `Inputs.Shapes`) and 12 repeats: every round runs the same mix.
    */
  val StreamLength = 24
  val BatchSize = 16
  val DuelSample = 4
  val TailSteps = 4
  val TailDocs = 64
  val MarkerStride = 16 // one marker doc per 16 tail docs

  private def marker(seed: Long, step: Int): String = s"mkr_${Math.floorMod(seed, 100000L)}_$step"

  private def single(term: String): Inputs.StreamQuery =
    Inputs.StreamQuery(QuerySpec(term, should = Seq(term), k = 100), "or", repeat = false)

  def run(ctx: RunContext, checks: Checks): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val base = Inputs.rowBase(ctx.seed)
    val parts = 2 * spark.sparkContext.defaultParallelism

    // set-up: warm the JIT (a small build, a reader and a few queries) so
    // the measured build and stream are not the JVM's first, then write the
    // seeded corpus. The append path is left cold: the first tail step pays
    // it, and the refresh median of the four steps does not rest on that
    // step.
    val (_, warm) = tr.span("setup-warm") {
      val dir = ctx.dir("setup-warm/index")
      Index.build(Inputs.writeCorpus(spark, ctx.dir("setup-warm/corpus"),
        base + BulkDocs, WarmDocs, parts), dir)
      Engine.run(Index.reader(spark, dir), Inputs.queryStream(ctx.seed + 1, 6))
    }
    val corpusDir = ctx.dir("corpus")
    val (corpus, input) =
      tr.span("setup-input")(Inputs.writeCorpus(spark, corpusDir, base, BulkDocs, parts))
    val indexDir = ctx.dir("index")

    val stream = Inputs.queryStream(ctx.seed, StreamLength)
    val rounds = mutable.ArrayBuffer.empty[Seq[(Inputs.StreamQuery, Span, Engine.Hits)]]
    var batchRuns = Seq.empty[(Map[String, Engine.Hits], Span)]
    var streamReader: Option[Index.Reader] = None
    // tail docs the index must hold, by (repo, path)
    val live = mutable.LinkedHashMap.empty[(String, String), SourceDoc]
    val markerDocs = mutable.LinkedHashMap.empty[String, Seq[(String, String)]]
    val refresh = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Span]
    val appends = mutable.ArrayBuffer.empty[Double]
    val updates = mutable.ArrayBuffer.empty[Double]
    val opens = mutable.ArrayBuffer.empty[Double]
    val freshStream = Inputs.queryStream(ctx.seed + 2, 2 * TailSteps).iterator.filter(_.repeat == false)
    var bulkBytes = Double.NaN

    val (built, measured) = tr.span("measured") {
      val built = checks.op("bulk build")(tr.span("build")(Index.build(corpus, indexDir))) {
        case (snaps, _) =>
          if (snaps.map(_.docCount).sum == BulkDocs) None
          else Some(s"docCount ${snaps.map(_.docCount).sum} != $BulkDocs")
      }
      bulkBytes = Stats.dirBytes(indexDir).toDouble

      if (built.nonEmpty) {
        // read path: the whole stream, one query per call, on a newly
        // opened reader per round (so first-seen queries look their term
        // stats up again), for as many whole rounds as the time allows
        tr.span("stream") {
          val t0 = System.nanoTime()
          while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
            val reader = Index.reader(spark, indexDir)
            if (streamReader.isEmpty) streamReader = Some(reader)
            rounds += stream.flatMap { q =>
              checks.op(s"query ${q.spec.qid}")(tr.span("query")(Engine.run(reader, Seq(q))))(_ => None)
                .map { case (hits, s) => (q, s, hits(q.spec.qid)) }
            }
          }
        }
        // the same stream as batches on the first round's reader: the flat
        // and the tree queries of one batch go out as one call each
        val reader = streamReader.get
        batchRuns = stream.grouped(BatchSize).toSeq.flatMap { b =>
          checks.op(s"batch ${b.head.spec.qid}")(tr.span("batch")(Engine.run(reader, b)))(_ => None)
        }

        // write path: the near-real-time tail
        (0 until TailSteps).foreach { step =>
          val m = marker(ctx.seed, step)
          val isUpdate = step % 4 == 3
          val prevMarker = marker(ctx.seed, step - 1)
          val docs =
            if (isUpdate) {
              // new versions carry the new marker in place of the old one
              val prev = markerDocs(prevMarker).toSet
              live.collect { case (k, d) if prev(k) =>
                d.copy(content = d.content.replace(s"val $prevMarker = 1\n", s"val $m = 1\n"))
              }.toSeq
            } else tailDocs(base, step, m)
          val planted = docs.filter(_.content.contains(m)).map(d => (d.repo, d.path))
          val probe = if (isUpdate) Seq(m, prevMarker) else Seq(m)
          checks.op(s"step $step") {
            val t1 = System.nanoTime()
            val (_, call) =
              if (isUpdate)
                tr.span("update")(Index.updateByTerm(spark, indexDir, prevMarker,
                  spark.createDataset(docs)))
              else
                tr.span("append")(Index.appendBatch(spark.createDataset(docs), indexDir,
                  graft.index.SnapshotStore.read(indexDir).map(_.incrementId).max + 1L))
            val (reader, open) = tr.span("open")(Index.reader(spark, indexDir))
            val (hits, _) = tr.span("probe")(Engine.run(reader, probe.map(single)))
            refresh += (System.nanoTime() - t1) / 1e9
            (if (isUpdate) updates else appends) += call.seconds
            opens += open.millis
            (reader, hits)
          } { case (_, hits) =>
            val n = hits(m).size
            val gone = probe.drop(1).map(hits(_).size).sum
            if (n != planted.size) Some(s"marker $m: $n hits, want ${planted.size}")
            else if (gone != 0) Some(s"replaced marker still has $gone hits")
            else None
          }.foreach { case (reader, _) =>
            val q = freshStream.next()
            checks.op(s"fresh ${q.spec.qid}")(tr.span("fresh")(Engine.run(reader, Seq(q))))(_ => None)
              .foreach(fresh += _._2)
          }
          if (isUpdate) markerDocs.remove(prevMarker)
          markerDocs(m) = planted
          docs.foreach(d => live((d.repo, d.path)) = d)
        }
      }
      built
    }
    val singles = rounds.flatten.toSeq
    val firstRound = rounds.headOption.getOrElse(Nil)

    // read-path correctness: batch answers equal single answers; the 20
    // reference queries and a seeded sample of the stream duel NaiveSearch
    // over the bulk corpus
    streamReader.foreach { reader =>
      val batchHits = batchRuns.flatMap(_._1).toMap
      singles.foreach { case (q, _, hits) =>
        checks.check(s"batch==single ${q.spec.qid}")(
          batchHits.get(q.spec.qid).fold(Option("missing from batch"))(Engine.compare(_, hits)))
      }
      val rnd = new java.util.Random(ctx.seed)
      // the stream carries the first reference queries, in order
      val inStream = stream.filter(q => q.shape == "ref" && !q.repeat)
      val refs = inStream ++ ReferenceQueries.all.drop(inStream.size).map(r =>
        Inputs.StreamQuery(r.copy(qid = s"ref-${r.qid}"), "ref", repeat = false))
      val duelQs = refs ++
        rnd.ints(0, math.max(1, firstRound.size)).limit(DuelSample).toArray.distinct
          .flatMap(i => firstRound.lift(i).map(_._1)).filterNot(_.shape == "ref")
      val (want, _) = tr.span("naive")(Engine.naive(reader, corpusDir, duelQs.map(_.spec)))
      // reference queries the stream does not carry run in one call
      val singleHits = firstRound.map { case (q, _, h) => q.spec.qid -> h }.toMap
      val others = duelQs.filterNot(q => singleHits.contains(q.spec.qid))
      val got = singleHits ++ checks.op("other references")(
        if (others.isEmpty) Map.empty[String, Engine.Hits] else Engine.run(reader, others)
      )(_ => None).getOrElse(Map.empty)
      duelQs.foreach { q =>
        checks.check(s"duel ${q.spec.qid}")(
          got.get(q.spec.qid).fold(Option("not run"))(Engine.compare(_, want(q.spec.qid))))
      }
    }

    // write-path correctness over the final index: doc count, every live
    // doc's sha256 against its DocMeta, every live marker returning exactly
    // its docs
    val corpusDocs = corpus.collect()
    val expected = mutable.LinkedHashMap.empty[(String, String), String]
    corpusDocs.foreach(d => expected((d.repo, d.path)) = d.content)
    live.foreach { case (k, d) => expected(k) = d.content }
    val finalReader = Index.reader(spark, indexDir)
    val liveMeta = finalReader.docMeta.join(finalReader.tombstones.toDF("docId"),
      Seq("docId"), "left_anti").as[graft.DocMeta].collect()
    checks.check("doc count")(
      if (liveMeta.length == expected.size) None
      else Some(s"${liveMeta.length} live docs, want ${expected.size}"))
    val shaWant = expected.map { case (k, c) => k -> CorpusGen.sha256Hex(c) }
    checks.check("content sha256")(
      liveMeta.find(m => !shaWant.get((m.repo, m.path)).contains(m.sha256))
        .map(m => s"doc ${m.repo}/${m.path} sha256 differs"))
    val byDocId = liveMeta.map(m => m.docId -> (m.repo, m.path)).toMap
    val markerHits = Engine.run(finalReader, markerDocs.keys.toSeq.map(single))
    markerDocs.foreach { case (t, docs) =>
      checks.check(s"marker $t")(
        if (markerHits(t).map(h => byDocId.getOrElse(h._1, ("?", "?"))).toSet == docs.toSet) None
        else Some("marker docs differ"))
    }

    // first-seen queries look their term stats up, repeats find them
    // cached on the reader: two latency modes in equal shares, so the
    // end-to-end figure is the mean of the two modes' medians (a median
    // alone would jump between the modes), median over rounds
    val firstSeen = singles.filterNot(_._1.repeat).map(_._2.millis)
    val repeats = singles.filter(_._1.repeat).map(_._2.millis)
    val buildS = built.map(_._2.seconds).getOrElse(Double.NaN)
    val e2e = Map(
      "setup_s" -> (warm.seconds + input.seconds),
      "throughput_per_s" -> BulkDocs / buildS,
      "op_ms" -> Stats.median(refresh) * 1e3,
      "read_ms" -> Stats.median(rounds.map { r =>
        val (rep, first) = r.partition(_._1.repeat)
        (Stats.median(first.map(_._2.millis)) + Stats.median(rep.map(_._2.millis))) / 2
      }),
      "bytes_per_doc" -> bulkBytes / BulkDocs)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val (flushS, mergeS) = replayFlushMerge(ctx, corpus)
        tr.settle()
        val lineage: Seq[PartitionLineage] = built.flatMap(_._1.headOption).map(_.lineage).getOrElse(Nil)
        val walls = lineage.map(_.wallMillis.toDouble)
        val works = singles.map { case (_, s, _) => tr.work(s) }
        val n = math.max(1, singles.size).toDouble
        val batchWork = batchRuns.map(b => tr.work(b._2))
        // term-stats cache outcome per query, from the outside: a query hits
        // when every analyzed term was already looked up on this reader
        val seen = mutable.HashSet.empty[String]
        def analyzedTerms(q: QuerySpec): Seq[String] = {
          val a = QueryEngine.analyzeQuery(q, Analyzer.EnglishStopWords)
          (a.should ++ a.must ++ a.mustNot).distinct
        }
        val hit = firstRound.map { case (q, _, _) =>
          val ts = analyzedTerms(q.spec)
          val h = ts.forall(seen)
          seen ++= ts
          h
        }
        // cold lookups replayed, in stream order, on a second reader
        val statsReader = Index.reader(spark, indexDir)
        val termstatsMs = stream.filterNot(_.repeat).map { q =>
          val t0 = System.nanoTime()
          statsReader.termStatsMap(analyzedTerms(q.spec))
          (System.nanoTime() - t0) / 1e6
        }
        Map(
          "index.build_s" -> buildS,
          "index.flush_s" -> flushS,
          "index.merge_s" -> mergeS,
          "index.commit_other_s" -> (buildS - flushS - mergeS),
          "index.merge_skew" -> (if (walls.isEmpty) Double.NaN else walls.max / Stats.median(walls)),
          "index.postings_bytes_per_doc" -> lineage.map(_.postingsBytes).sum.toDouble / BulkDocs,
          "index.append_s" -> Stats.median(appends),
          "index.update_s" -> Stats.median(updates),
          "index.reader_open_ms" -> Stats.median(opens),
          "index.snapshots" -> finalReader.snapshots.size.toDouble,
          "index.termstats_ms" -> Stats.median(termstatsMs),
          "index.termstats_hit_ratio" -> hit.count(identity).toDouble / math.max(1, hit.size),
          "search.search_ms" -> Stats.median(singles.map(_._2.millis)),
          "search.query_p95_ms" -> Stats.percentile(singles.map(_._2.millis), 0.95),
          "search.first_seen_ms" -> Stats.median(firstSeen),
          "search.repeat_ms" -> Stats.median(repeats),
          "search.fresh_ms" -> Stats.median(fresh.map(_.millis)),
          "search.fresh_jobs_per_query" ->
            fresh.map(s => tr.work(s).jobs).sum.toDouble / math.max(1, fresh.size),
          "search.batch_qps" -> stream.size / batchRuns.map(_._2.seconds).sum,
          "search.jobs_per_query" -> works.map(_.jobs).sum / n,
          "search.tasks_per_query" -> works.map(_.tasks).sum / n,
          "search.driver_ms_per_query" ->
            Stats.median(singles.map { case (_, s, _) => tr.driverMs(s) }),
          "search.input_mb_per_query" -> works.map(_.inputBytes).sum / 1e6 / n,
          "search.shuffle_mb_per_query" -> works.map(_.shuffleWriteBytes).sum / 1e6 / n,
          "search.batch_jobs" -> batchWork.map(_.jobs).sum.toDouble / math.max(1, batchWork.size),
          "search.batch_task_s" -> batchWork.map(_.taskMs).sum / 1e3 / math.max(1, batchWork.size)
        ) ++ Kernels.layerMetrics(streamReader.getOrElse(finalReader), corpusDocs.take(1000).toSeq,
          stream.filterNot(_.tree).map(_.spec)) ++
          SparkRuntime.sparkLayers(tr, measured)
      }

    Outcome(e2e, layers, Map(
      "bulk_docs" -> BulkDocs,
      "stream_rounds" -> rounds.size,
      "queries_single" -> singles.size,
      "queries_first_seen" -> firstSeen.size,
      "references_in_stream" -> stream.count(q => q.shape == "ref" && !q.repeat),
      "batches" -> batchRuns.size,
      "tail_steps" -> refresh.size,
      "stream" -> Inputs.streamShape(stream),
      "input_digest" -> Stats.sha256(Iterator(Inputs.corpusDigest(corpus),
        Inputs.streamDigest(stream), Stats.sha256(markerDocs.keys.iterator)))))
  }

  /** Tail docs of one step: fresh corpus rows, with the marker planted in
    * every MarkerStride-th doc.
    */
  private def tailDocs(base: Long, step: Int, m: String): Seq[SourceDoc] =
    (0 until TailDocs).map { j =>
      val d = CorpusGen.doc(base + BulkDocs + WarmDocs + step.toLong * TailDocs + j)
      if (j % MarkerStride == 0) d.copy(content = d.content + s"val $m = 1\n") else d
    }

  /** Flush, then merge, of the bulk corpus through the builder's own
    * stages, each materialised on its own so its wall time stands alone.
    */
  private def replayFlushMerge(ctx: RunContext, corpus: Dataset[SourceDoc]): (Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = IndexConfig()
    val segs = IndexBuilder.flushSegments(corpus, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, flush) = ctx.tracer.span("replay-flush")(segs.count())
      val partials = segs.where($"kind" === 1).select($"partial.*").as[graft.PartialPostings]
      val acc = spark.sparkContext.collectionAccumulator[PartitionLineage]("bench-lineage")
      val (_, merge) = ctx.tracer.span("replay-merge")(
        IndexBuilder.mergePostings(partials, cfg, 1L, acc).count())
      (flush.seconds, merge.seconds)
    } finally segs.unpersist()
  }
}
