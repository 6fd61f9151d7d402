package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * usage: graftbench.Main --workload <index|analytics|board-profile>
  *          --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *          --out <file>
  *        graftbench.Main --dump-oracle-sql <file>
  *
  * `board-profile` times the whole board (see `AnalyticsWorkload.profile`);
  * `select_board.py` runs it.
  *
  * The launcher (run.py) gives every run a fresh `--work` directory and
  * points `java.io.tmpdir` and `spark.local.dir` into it.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("dump-oracle-sql") match {
      case Some(out) =>
        Files.writeString(Paths.get(out), json.writeValueAsString(graft.SparkEntry.oracleSql))
      case None => run(opts)
    }
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    import scala.jdk.CollectionConverters._
    def data(file: String) = json.readTree(Paths.get(opts("data"), file).toFile)
    val expected: Map[String, Map[String, Long]] =
      if (workload == "index") Map.empty
      else data("expected_rows.json").fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map(c => c.getKey -> c.getValue.asLong).toMap
      }.toMap
    val spark = graft.apps.SparkEnv.session(s"graftbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = RunContext(spark, new Tracer(spark.sparkContext, opts("trace") == "1"),
      opts("seed").toLong, opts("seconds").toDouble, opts("work"), opts("data"))
    val checks = new Checks
    val cpu0 = Host.cpuJiffies()
    val outcome = try workload match {
      case "index" => IndexWorkload.run(ctx, checks)
      case "analytics" =>
        val sample = data("board_sample.json")
        AnalyticsWorkload.run(ctx, checks, expected, AnalyticsWorkload.Sample(
          sample.get("entries").elements().asScala.map(_.asText).toSeq,
          sample.get("family_weight").fields().asScala.map(f => f.getKey -> f.getValue.asDouble).toMap,
          sample.get("board_entries").asInt))
      case "board-profile" => AnalyticsWorkload.profile(ctx, checks, expected)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally ctx.tracer.close()
    val steal = Host.stealShare(cpu0, Host.cpuJiffies())
    val master = spark.sparkContext.master
    spark.stop()

    val result = Map(
      "correct" -> checks.failures.isEmpty,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "failures" -> checks.failures.take(20).toSeq,
      "end_to_end" -> outcome.endToEnd,
      "per_layer" -> outcome.layers,
      "context" -> (outcome.context ++ Map(
        "workload" -> workload,
        "seed" -> ctx.seed,
        "nproc" -> java.lang.Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> java.lang.Runtime.getRuntime.maxMemory() / (1L << 20),
        "steal_share" -> steal,
        "phase_s" -> ctx.tracer.all.filter(_.parent == 0).groupBy(_.name)
          .map { case (n, ss) => n -> ss.map(_.seconds).sum },
        "spark_master" -> master)))
    Files.writeString(Paths.get(opts("out")), json.writeValueAsString(result))
  }
}
