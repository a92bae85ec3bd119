package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{Memo, SparkEntry, Tables}

/** Dev probe over the registered queries, so a question about a few of
  * them never needs a full Bench run:
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> [SPARK_GRAFT_CPUS=<n>] \
  *     sbt "runMain graft.tools.Probe <mode> <q1,q2,...|all> [n]"
  *
  *   - `time`: per query, n passes (default 2), cache and Memo cleared
  *     before each pass; prints each pass and the minimum.
  *   - `bench-some`: Bench's pass discipline over the named subset (every
  *     name per pass, cleared BETWEEN passes), min-of-n per query and
  *     their total. The before/after for a win in a stage the queries
  *     share (Memo, cache), which `time`'s per-pass clear would erase.
  *   - `chains`: cold (fresh cache and Memo), then warm in the same pass;
  *     the difference is the shared-stage build cost.
  *   - `explain`: the formatted plan captured BEFORE execution, to stdout,
  *     or to `<outDir>/<query>_<suffix>.txt` as
  *     `explain <queries> <outDir> <suffix>` (the artifact committed under
  *     plans/). The query then runs, and the last line is the final
  *     plan's scan/shuffle/broadcast/reuse census: the quick "is this
  *     subtree recomputed?" check.
  *   - `show`: the first n rows (default 50).
  *
  * SPARK_GRAFT_CPUS defaults to the machine's cores. `run` takes the
  * session from its caller; only `main` builds and stops one.
  */
object Probe {
  private val modes = Seq("time", "bench-some", "chains", "explain", "show")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sys.env("SPARK_GRAFT_SF_DIR"), args)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val valid = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.length < 2) Seq.empty
      else if (args(1) == "all") valid
      else args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (!args.headOption.exists(modes.contains) || names.isEmpty || unknown.nonEmpty) {
      println(s"[probe] usage: Probe <${modes.mkString("|")}> <q1,q2,...|all> [n]" +
        (if (unknown.nonEmpty) s"; unknown query ${unknown.mkString(", ")}" else "") +
        s"; valid names: ${valid.mkString(", ")}")
      return
    }
    val mode = args(0)
    def n(default: Int): Int = if (args.length > 2) args(2).toInt else default
    def fresh(): Unit = { spark.catalog.clearCache(); Memo.clear() }
    def timed(name: String, label: String): Double = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $mode $name $label: $dt%.2f s ($rows rows)")
      dt
    }

    // JVM/codegen warm-up outside every timed region, as in Bench
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()
    mode match {
      case "time" =>
        for (name <- names) {
          val best = (1 to n(2)).map { p => fresh(); timed(name, s"pass $p") }.min
          println(f"[probe] time $name MIN: $best%.3f s")
        }
      case "bench-some" =>
        val passes = (1 to n(2)).map { p => fresh(); names.map(timed(_, s"pass $p")) }
        val mins = names.indices.map(i => passes.map(_(i)).min)
        for ((name, m) <- names.zip(mins)) println(f"[probe] bench-some $name MIN: $m%.3f s")
        println(f"[probe] bench-some MIN-TOTAL: ${mins.sum}%.3f s")
      case "chains" =>
        for (name <- names) {
          fresh()
          val cold = timed(name, "cold")
          val warm = timed(name, "warm")
          println(f"[probe] chains $name build (cold - warm): ${cold - warm}%.2f s")
        }
      case "explain" =>
        for (name <- names) explain(spark, sfDir, name, args.drop(2))
      case "show" =>
        for (name <- names) {
          println(s"[probe] show $name")
          SparkEntry.queries(name)(spark, sfDir).show(n(50), truncate = false)
        }
    }
  }

  private def explain(spark: SparkSession, sfDir: String, name: String,
      out: Array[String]): Unit = {
    // a query that fails to plan must not end an `all` dump
    val df =
      try Some(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Exception => println(s"[probe] explain $name FAILED: $e"); None }
    for (df <- df) {
      val plan = df.queryExecution.explainString(FormattedMode)
      if (out.length >= 2) {
        val file = Files.createDirectories(Paths.get(out(0))).resolve(s"${name}_${out(1)}.txt")
        Files.writeString(file, plan)
        println(s"[probe] explain $name wrote $file")
      } else println(plan)
      // run on the SAME QueryExecution: finalizes the adaptive plan
      // without pulling the result set to the driver
      df.queryExecution.toRdd.foreach(_ => ())
      val last = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // final plan only
        case p => p
      }
      val lines = last.toString.linesIterator.toSeq
      def count(tag: String) = lines.count(_.contains(tag))
      println(s"[probe] explain $name census: scans=${count("Scan parquet")} " +
        s"shuffles=${count("Exchange hashpartitioning")} " +
        s"broadcasts=${count("BroadcastExchange")} reused=${count("ReusedExchange")}")
    }
  }
}
