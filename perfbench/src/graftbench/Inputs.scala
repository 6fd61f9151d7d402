package graftbench

import graft.{QuerySpec, SourceDoc}
import graft.corpus.CorpusGen
import graft.search.ReferenceQueries
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded input generators. Every input is a pure function of the seed, so
  * two runs with the same seed feed the engine identical inputs; the
  * digests below let a run show that.
  */
object Inputs {

  /** First corpus row id of a seed: seeds get disjoint row ranges of
    * `CorpusGen.doc`, so the corpus differs per seed but keeps its
    * statistics (Zipf identifiers, planted needles every 499/1231 rows).
    */
  def rowBase(seed: Long): Long = Math.floorMod(seed, 100000L) * 10000000L

  /** `n` corpus docs from row `first` on, written as `parts` parquet files. */
  def writeCorpus(spark: SparkSession, dir: String, first: Long, n: Long,
      parts: Int): Dataset[SourceDoc] = {
    import spark.implicits._
    spark.range(first, first + n, 1, parts).map(i => CorpusGen.doc(i))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[SourceDoc]
  }

  /** Digest of a written corpus: the sorted content hashes of its docs. */
  def corpusDigest(corpus: Dataset[SourceDoc]): String = {
    import org.apache.spark.sql.functions._
    import corpus.sparkSession.implicits._
    Stats.sha256(corpus.select(sha2(col("content"), 256)).as[String]
      .collect().sorted.iterator)
  }

  /** One query of the stream: a flat spec, run through `search`, or (tree)
    * the clause tree of the same spec, run through `searchTrees`.
    */
  final case class StreamQuery(spec: QuerySpec, shape: String, repeat: Boolean) {
    def tree: Boolean = shape == "tree"
  }

  /** Shapes of the generated first-seen queries, in a fixed cycle, so
    * every run executes the same mix whatever its seed.
    */
  val Shapes: Seq[String] = Seq("or", "and", "andnot", "or", "lang", "tree")

  /** Kinds of successive generated terms, in a fixed cycle: identifiers
    * from the Zipf head to the tail (by rank band), keywords, a planted
    * needle and an absent term.
    */
  private val TermKinds: Seq[String] = Seq(
    "ident0", "ident1", "keyword", "ident2", "ident3", "ident1", "keyword",
    "ident2", "needle", "ident3", "ident0", "keyword", "ident2", "absent")
  private val RankBands: Seq[(Int, Int)] = Seq((0, 10), (10, 100), (100, 1000), (1000, 5000))

  /** Seeded query stream of length `n`. First-seen and repeated queries
    * alternate, so half the stream repeats an earlier query (same clauses,
    * new qid), one of the last few first-seen ones. The first-seen queries
    * interleave the 20 reference queries, in order, with generated ones.
    * Shapes and term kinds of the generated queries follow fixed cycles and
    * the seed picks the terms within each kind, so every seed executes the
    * same mix; stop words only come in through the reference queries.
    */
  def queryStream(seed: Long, n: Int): Seq[StreamQuery] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val keywords = CorpusGen.Keywords.filterNot(graft.core.Analyzer.EnglishStopWords)
    var termNo = 0
    def term(): String = {
      val kind = TermKinds(termNo % TermKinds.size)
      termNo += 1
      kind match {
        case "keyword" => keywords(rnd.nextInt(keywords.length))
        case "needle" => CorpusGen.Needles(rnd.nextInt(CorpusGen.Needles.length))._1
        case "absent" => s"zzabsent${rnd.nextInt(1000)}"
        case band =>
          val (lo, hi) = RankBands(band.last - '0')
          CorpusGen.identifier(lo + rnd.nextInt(hi - lo))
      }
    }
    def terms(k: Int): Seq[String] = Seq.fill(k)(term()).distinct
    def generated(qid: String, sh: String): QuerySpec = sh match {
      case "or" => QuerySpec(qid, should = terms(2))
      case "and" => QuerySpec(qid, must = terms(2))
      case "andnot" => QuerySpec(qid, must = terms(1), mustNot = terms(1))
      case "lang" => QuerySpec(qid, should = terms(1),
        langFilter = Some(CorpusGen.Langs(rnd.nextInt(CorpusGen.Langs.length))))
      case _ => QuerySpec(qid, must = terms(1), should = terms(2), mustNot = terms(1))
    }
    val refs = ReferenceQueries.all.iterator
    var generatedCount = 0
    val firstSeen = scala.collection.mutable.ArrayBuffer.empty[StreamQuery]
    (0 until n).map { i =>
      val qid = f"s$i%04d"
      if (i % 2 == 0) {
        val q =
          if (firstSeen.size % 2 == 0 && refs.hasNext) {
            val r = refs.next()
            StreamQuery(r.copy(qid = s"$qid-${r.qid}"), "ref", repeat = false)
          } else {
            val sh = Shapes(generatedCount % Shapes.size)
            generatedCount += 1
            StreamQuery(generated(qid, sh), sh, repeat = false)
          }
        firstSeen += q
        q
      } else {
        val src = firstSeen(firstSeen.size - 1 - rnd.nextInt(math.min(3, firstSeen.size)))
        StreamQuery(src.spec.copy(qid = qid), src.shape, repeat = true)
      }
    }
  }

  def streamDigest(qs: Seq[StreamQuery]): String =
    Stats.sha256(qs.iterator.map(q => s"${q.shape}|${q.spec}\n"))

  /** Shape shares and repeat share of the executed part of a stream. */
  def streamShape(qs: Seq[StreamQuery]): Map[String, Double] = {
    val n = math.max(1, qs.size).toDouble
    qs.groupBy(_.shape).map { case (s, g) => s"share_$s" -> g.size / n } +
      ("repeat_share" -> qs.count(_.repeat) / n)
  }
}
