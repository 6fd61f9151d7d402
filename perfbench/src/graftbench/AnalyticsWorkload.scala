package graftbench

import graft.SparkEntry
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `analytics`: passes over a sample of the `SparkEntry.queries` board, one
  * entry per call in seeded order. Every pass reads its tables under a new
  * path and gets a new `java.io.tmpdir`, so no derived-index cache (on disk
  * or keyed by table path in the JVM) carries over between passes. Set-up
  * is one such pass over the small tables, to warm the JIT.
  *
  * The sample is `data/board_sample.json`, which `select_board.py` draws
  * from a measured profile of the whole board (`profile`, below), with a
  * weight per family that scales the sample's time up to the board's.
  */
object AnalyticsWorkload {

  /** The four StreamingOps board entries put their checkpoints under
    * /dev/shm, outside the run's own directory, so neither the sample nor
    * the profile runs them; `streaming.stream_s` times the NRT stream
    * instead.
    */
  val StreamingEntries: Set[String] = Set(
    "stream_window_hourly", "stream_session_window", "stream_dedup_events",
    "stream_stream_join")

  /** Family of an entry, as the per-layer `ops.<family>_s` metrics group them. */
  def family(e: String): String = e.takeWhile(_ != '_') match {
    case "search" => "search"
    case "facet" => "facet"
    case "dedup" | "decontaminate" => "dedup"
    case "classify" | "cluster" | "ann" | "graph" | "ml" => "ml"
    case _ => "other"
  }

  val WarmScale = "sf0.001"
  val Scale = "sf0.01"
  val ProfilePasses = 2

  /** The board sample: entries, the weight of each family, and the number
    * of board entries the weighted sample stands for.
    */
  final case class Sample(entries: Seq[String], familyWeight: Map[String, Double],
      boardEntries: Int)

  final case class EntryRun(entry: String, span: Span, cacheDirs: Seq[Path])
  final case class Pass(entries: Seq[EntryRun], docIndex: Option[Span], span: Span, tmp: Path)

  /** Runs passes over the board; each pass lays the shipped tables out
    * under a new path (outside its timing) with a new tmpdir.
    */
  private final class Board(ctx: RunContext, checks: Checks,
      expected: Map[String, Map[String, Long]]) {
    private var passNo = 0

    def pass(scale: String, order: Seq[String]): Pass = {
      passNo += 1
      val sf = linkTables(Paths.get(ctx.dataDir, scale), Paths.get(ctx.dir(s"pass$passNo/$scale")))
      val tmp = Files.createDirectories(Paths.get(ctx.dir(s"pass$passNo/tmp")))
      System.setProperty("java.io.tmpdir", tmp.toString)
      val ((docIndex, runs), span) = ctx.tracer.span(s"pass-$scale") {
        // the derived doc index most entries share, built and first queried
        // up front, so neither cost lands on whichever entry comes first
        val docIndex = checks.op(s"$scale doc index")(ctx.tracer.span("doc-index") {
          val reader = graft.ops.DocSearchOps.reader(ctx.spark, sf)
          graft.search.QueryEngine.search(reader, Seq(graft.QuerySpec("first", should = Seq("data"))))
            .collect()
        })(_ => None)
        val runs = order.flatMap { e =>
          val before = list(tmp)
          checks.op(s"$scale $e")(ctx.tracer.span(e)(SparkEntry.queries(e)(ctx.spark, sf).count())) {
            case (n, _) => expected.get(scale).flatMap(_.get(e)) match {
              case Some(want) => if (n == want) None else Some(s"$n rows, oracle has $want")
              case None => if (n > 0) None else Some("no rows")
            }
          }.map { case (_, s) => EntryRun(e, s, list(tmp).filterNot(before.contains).toSeq) }
        }
        (docIndex.map(_._2), runs)
      }
      Pass(runs, docIndex, span, tmp)
    }
  }

  /** Median wall seconds per entry over the passes. */
  private def perEntry(passes: Seq[Pass]): Map[String, Double] =
    passes.flatMap(_.entries).groupBy(_.entry)
      .map { case (e, rs) => e -> Stats.median(rs.map(_.span.seconds)) }

  def run(ctx: RunContext, checks: Checks, expected: Map[String, Map[String, Long]],
      sample: Sample): Outcome = {
    val order = new scala.util.Random(ctx.seed).shuffle(sample.entries)
    val board = new Board(ctx, checks, expected)
    val warmPass = board.pass(WarmScale, order)
    val warm = warmPass.span
    val measured = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (measured.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      measured += board.pass(Scale, order)

    val entryS = perEntry(measured.toSeq)
    val docIndexS = Stats.median(measured.flatMap(_.docIndex).map(_.seconds))
    // board seconds per family, estimated from the weighted sample
    val familyS = entryS.groupBy { case (e, _) => family(e) }
      .map { case (f, m) => f -> sample.familyWeight(f) * m.values.sum }
    val boardS = docIndexS + familyS.values.sum
    val first = measured.head.entries
    val cacheRuns = first.filter(_.cacheDirs.nonEmpty)
    val cacheBytes = Stats.dirBytes(measured.head.tmp.toString)
    val docs = ctx.spark.read.parquet(Paths.get(ctx.dataDir, Scale, "documents.parquet").toString).count()
    val e2e = Map(
      "setup_s" -> warm.seconds,
      "throughput_per_s" -> sample.boardEntries / boardS,
      // geometric mean: every entry weighs the same, whatever its size
      "op_ms" -> math.exp(entryS.values.map(s => math.log(s * 1e3)).sum / entryS.size),
      "read_ms" -> {
        val search = entryS.collect { case (e, s) if family(e) == "search" => s * 1e3 }
        search.sum / search.size
      },
      "bytes_per_doc" -> cacheBytes.toDouble / docs)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val stream = checks.op("stream nrt")(StreamProbe.run(ctx))(_ => None).getOrElse(Double.NaN)
        ctx.tracer.settle()
        Map(
          "ops.search_s" -> familyS("search"),
          "ops.facet_s" -> familyS("facet"),
          "ops.dedup_s" -> familyS("dedup"),
          "ops.ml_s" -> familyS("ml"),
          "ops.other_s" -> familyS("other"),
          "ops.jobs_per_entry_p50" -> Stats.median(first.map(r => ctx.tracer.work(r.span).jobs.toDouble)),
          "ops.driver_s" -> first.map(r => ctx.tracer.driverMs(r.span)).sum / 1e3,
          "ops.cache_build_s" -> (docIndexS + cacheRuns.map(_.span.seconds).sum),
          "ops.cache_mb" -> cacheBytes / 1e6,
          "streaming.stream_s" -> stream
        ) ++ SparkRuntime.sparkLayers(ctx.tracer, measured.head.span)
      }

    Outcome(e2e, layers, Map(
      "entries" -> sample.entries.size,
      "board_s_estimate" -> boardS,
      "passes" -> measured.size,
      "scale" -> Scale,
      "entry_order_digest" -> Stats.sha256(order.iterator),
      "entry_s" -> entryS,
      "warm_entry_s" -> perEntry(Seq(warmPass))))
  }

  /** The whole board (less the streaming entries) the way `run` measures
    * its sample: one warm-up pass at `WarmScale`, then `ProfilePasses`
    * passes at `Scale`. The context carries the median seconds per entry,
    * from which `select_board.py` draws the sample.
    */
  def profile(ctx: RunContext, checks: Checks,
      expected: Map[String, Map[String, Long]]): Outcome = {
    val all = SparkEntry.queries.keys.toSeq.sorted.filterNot(StreamingEntries)
    val board = new Board(ctx, checks, expected)
    board.pass(WarmScale, all)
    val measured = (1 to ProfilePasses).map(_ => board.pass(Scale, all))
    Outcome(Map.empty, Map.empty, Map(
      "scale" -> Scale,
      "passes" -> measured.size,
      "doc_index_s" -> Stats.median(measured.flatMap(_.docIndex).map(_.seconds)),
      "entry_s" -> perEntry(measured)))
  }

  private def list(dir: Path): Set[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSet finally s.close()
  }

  /** The shipped tables under a new path: hard links where possible. */
  private def linkTables(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(f.getFileName)
      try Files.createLink(t, f)
      catch { case _: Exception => Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING) }
    } finally s.close()
    dst.toString
  }
}

/** The streaming module's NRT path: a parquet directory of small files is
  * streamed into index snapshots, one micro-batch per file, with its
  * checkpoint inside the run directory. Returns the wall seconds.
  */
object StreamProbe {
  val FileCount = 2
  val DocsPerFile = 50L

  def run(ctx: RunContext): Double = {
    val src = ctx.dir("stream/corpus")
    Inputs.writeCorpus(ctx.spark, src, Inputs.rowBase(ctx.seed), FileCount * DocsPerFile, FileCount)
    val (snaps, s) = ctx.tracer.span("stream")(graft.streaming.StreamingOps.nrtIndex(
      ctx.spark, src, ctx.dir("stream/index"), ctx.dir("stream/checkpoint")))
    require(snaps.map(_.docCount).sum == FileCount * DocsPerFile,
      s"stream indexed ${snaps.map(_.docCount).sum} docs")
    s.seconds
  }
}
