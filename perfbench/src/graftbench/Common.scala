package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything one workload run needs. `workDir` is fresh for the run and
  * removed by the launcher afterwards; `dataDir` holds the read-only
  * tables shipped with the benchmark.
  */
final case class RunContext(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    seconds: Double,
    workDir: String,
    dataDir: String) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(workDir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Correctness bookkeeping: every operation the workload attempts either
  * passes its check or is counted as failed, with a message.
  */
final class Checks {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; an exception or a failed check counts as failed. */
  def op[A](what: String)(f: => A)(ok: A => Option[String]): Option[A] = {
    attempted += 1
    try {
      val a = f
      ok(a).foreach(m => failures += s"$what: $m")
      Some(a)
    } catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** A check that is not itself a timed operation. */
  def check(what: String)(problem: => Option[String]): Unit =
    op(what)(())(_ => problem)

  def failed: Int = failures.size
}

/** What a workload hands back to Main. */
final case class Outcome(
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    context: Map[String, Any])

object Stats {
  /** Median; NaN for an empty sample. */
  def median(xs: Iterable[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toIndexedSeq.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]; NaN for an empty sample. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toIndexedSeq.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return 0L
    val w = java.nio.file.Files.walk(p)
    try {
      var n = 0L
      w.forEach(f => if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f))
      n
    } finally w.close()
  }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(s => md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Host context recorded with every run; never used to discard samples. */
object Host {
  /** (total, steal) jiffies over all cpus from /proc/stat, if readable. */
  def cpuJiffies(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      Some((f.take(8).sum, if (f.length > 7) f(7) else 0L))
    } finally src.close()
  } catch { case _: Throwable => None }

  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }
}

/** Spark runtime figures of one measured span, from the listener. */
object SparkRuntime {
  def sparkLayers(tr: Tracer, measured: Span): Map[String, Double] = {
    val w = tr.work(measured)
    val cores = java.lang.Runtime.getRuntime.availableProcessors()
    Map(
      "spark.jobs" -> w.jobs.toDouble,
      "spark.task_s" -> w.taskMs / 1e3,
      "spark.gc_s" -> w.gcMs / 1e3,
      "spark.shuffle_write_mb" -> w.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> w.spillBytes / 1e6,
      "spark.failed_tasks" -> w.failedTasks.toDouble,
      "spark.core_util" -> w.taskMs / 1e3 / (measured.seconds * cores))
  }
}
