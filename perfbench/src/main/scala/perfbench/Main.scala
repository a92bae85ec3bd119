package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM.
  *
  * `run.py` builds this package, generates the fixtures and launches
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --fixtures <dir> --out <dir> --cpus <n>
  * }}}
  *
  * The run writes `result.json` (counts, metrics, errors) into `--out`,
  * plus, for batch workloads, the rows each query returned in its last
  * timed pass under `check/` for the DuckDB comparison `run.py` makes.
  * With `--trace 1` it also writes `spans.json`.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, fixtures: String, out: Path, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("fixtures"), Paths.get(o("out")).toAbsolutePath,
      o("cpus").toInt)
    val report = c.workload match {
      case "stream_ingest" => Ingest.run(c)
      case w => Batch.run(c, Batch.workloads.getOrElse(w,
        throw new IllegalArgumentException(s"unknown workload $w")))
    }
    if (!c.trace) report.metric("peak_rss_mb", peakRssMb(), "MB")
    else {
      report.info("peak_rss_mb", peakRssMb(), "MB")
      // a layer the workload does not use reads 0
      perLayer.foreach { case (n, u) => report.metricIfAbsent(n, 0.0, u) }
    }
    Files.writeString(c.out.resolve("result.json"), Json(report.toMap))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Every per-layer metric a traced run reports, with its unit. */
  val perLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "tables.input_rows" -> "rows", "tables.input_bytes" -> "bytes", "tables.scan_s" -> "s",
    "memo.warm_pass_s" -> "s", "memo.build_s" -> "s",
    "functions.plan_uses" -> "count", "udaf.plan_uses" -> "count") ++
    Kernels.names.map(k => s"$k.ns_per_row" -> "ns") ++ Seq(
    "stream.batch_ms_p50" -> "ms", "stream.planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.commit_ms" -> "ms", "stream.state_rows" -> "rows", "stream.state_mem_bytes" -> "bytes",
    "stream.state_commit_ms" -> "ms", "stream.backlog_rows" -> "rows",
    "stream.watermark_lag_ms" -> "ms", "stream.gen_late_p99_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** The JVM's resident-set high-water mark (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** What a run reports: operation counts, the gated metrics, and extra
  * figures that are printed but not gated. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val infos = mutable.LinkedHashMap[String, (Double, String)]()

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def metricIfAbsent(name: String, value: Double, unit: String): Unit =
    if (!metrics.contains(name)) metric(name, value, unit)
  def info(name: String, value: Double, unit: String): Unit = infos(name) = (value, unit)
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  def toMap: Map[String, Any] = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "metrics" -> m(metrics), "info" -> m(infos))
  }
}

object Session {
  /** The engine's session settings (as in graft.Bench), with every
    * scratch directory inside the run's output directory. */
  def start(c: Main.Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.out.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", c.out.resolve("checkpoints").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Seconds on the monotonic clock, for durations. */
  def now(): Double = System.nanoTime() / 1e9

  /** Epoch milliseconds on the monotonic clock: the time axis of Spark's
    * listener events, with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
