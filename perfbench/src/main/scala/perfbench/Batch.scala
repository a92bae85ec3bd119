package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Memo, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import Stats.{median, now, nowMs, quantile}

/** The batch workloads: a fixed, sorted list of registered queries run as
  * passes, with the cache and `Memo` cleared before every pass, as
  * graft.Bench does. Queries run strictly one after another: `Memo`
  * staging assumes a single thread. */
object Batch {
  final case class Workload(name: String, tables: Seq[String], queries: Seq[String])

  val workloads: Map[String, Workload] = Seq(
    // Log analytics over the events table: Tables scan, shuffle and
    // aggregate, window functions, and per-query planning. No Memo, native
    // function or UDAF is on this path, which makes it the control for
    // changes to those.
    Workload("events_log", Seq("events"), Seq(
      "agg_session_windows", "agg_tumbling_hour", "events_bot_detection",
      "events_funnel", "pivot_events", "window_lag_sessionize")),
    // Train once, serve many: every Memo key below is built by the first
    // query of the pass that needs it and reused by a later one
    // (band_cands, minhash_pairs; pca_mat, pca_mat_drv), and the native
    // kernels (n-gram and MinHash signatures, cosine, IVF assignment) and
    // the Gram UDAF run inside them.
    Workload("llm_dedup_search", Seq("documents", "embeddings"), Seq(
      "dedup_minhash", "dedup_ngram_jaccard", "embedding_pca_power",
      "embedding_pca_topk", "similarity_knn", "similarity_knn_graph")),
  ).map(w => w.name -> w).toMap

  /** One successful query execution: the time to build the DataFrame
    * (`SparkEntry.queries(name)(spark, dir)`, including any eager Memo or
    * checkpoint work), to plan it, and to run the action. */
  final case class Exec(name: String, build: Double, plan: Double, exec: Double,
      rows: Array[Row], df: DataFrame, execStartMs: Double, execEndMs: Double) {
    def total: Double = build + plan + exec
  }

  final case class Pass(label: String, wall: Double, execs: Seq[Exec])

  private val warmupPasses = 1
  /** Timed passes run for `--seconds`, and at least this many. */
  private val minPasses = 3

  def table(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => Tables.events(spark, dir)
    case "documents" => Tables.documents(spark, dir)
    case "embeddings" => Tables.embeddings(spark, dir)
  }

  def run(c: Main.Conf, w: Workload): Report = {
    val r = new Report
    var spark: SparkSession = null
    val tableRows = mutable.Map[String, Long]()

    // Set-up, three times over: start a session and stage the fixtures
    // (one full read of each table through Tables.*). Then untimed
    // warm-up passes, for the JIT and Spark's code-generation caches.
    val starts = (1 to 3).map { _ =>
      val t0 = now()
      if (spark != null) spark.stop()
      spark = Session.start(c)
      w.tables.foreach { t =>
        table(spark, c.fixtures, t).write.format("noop").mode("overwrite").save()
        tableRows(t) = table(spark, c.fixtures, t).count()
      }
      now() - t0
    }
    val tw = now()
    (1 to warmupPasses).foreach(i => pass(spark, c, w, r, s"warmup$i", None))
    val setupS = median(starts) + (now() - tw)

    if (c.trace) traced(spark, c, w, r)
    else {
      val t0 = now()
      val timed = mutable.ArrayBuffer[Pass]()
      while (timed.size < minPasses || now() - t0 < c.seconds)
        timed += pass(spark, c, w, r, s"timed${timed.size + 1}", None)
      writeCheckInputs(spark, c, w, r, timed.last)
      val passS = median(timed.map(_.wall).toSeq)
      val qs = timed.flatMap(_.execs.map(_.total)).toSeq
      val inputRows = timed.last.execs.map(e => tablesRead(e.df).map(tableRows).sum).sum
      r.metric("setup_s", setupS, "s")
      r.metric("pass_s", passS, "s")
      r.metric("query_p50_s", quantile(qs, 0.5), "s")
      r.info("query_p90_s", quantile(qs, 0.9), "s")
      r.metric("sustained_eps", inputRows / passS, "1/s")
      r.metric("emit_latency_p50_ms", quantile(qs, 0.5) * 1000, "ms")
      r.info("emit_latency_p99_ms", quantile(qs, 0.99) * 1000, "ms")
      r.info("passes", timed.size, "count")
      r.info("query_samples", qs.size, "count")
    }
    r
  }

  /** One pass over the workload's queries, in its fixed order. A failed
    * query is counted and contributes no time. */
  def pass(spark: SparkSession, c: Main.Conf, w: Workload, r: Report, label: String,
      tr: Option[(Tracer, Span)], clear: Boolean = true): Pass = {
    val t0 = now()
    if (clear) {
      spark.catalog.clearCache()
      Memo.clear()
    }
    val execs = w.queries.flatMap(q => runQuery(spark, c, r, label, q, tr))
    Pass(label, now() - t0, execs)
  }

  def group(label: String, q: String): String = s"perfbench/$label/$q"

  private def runQuery(spark: SparkSession, c: Main.Conf, r: Report, label: String,
      q: String, tr: Option[(Tracer, Span)]): Option[Exec] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(label, q), q, interruptOnCancel = false)
    r.attempted += 1
    try {
      val m0 = nowMs()
      val df = SparkEntry.queries(q)(spark, c.fixtures)
      val m1 = nowMs()
      df.queryExecution.executedPlan
      val m2 = nowMs()
      val rows = df.collect()
      val m3 = nowMs()
      tr.foreach { case (t, parent) =>
        val qs = t.spans.open("query", parent.id, m0)
        t.spans.close(qs, m3)
        qs.attrs("query") = q
        qs.attrs("group") = group(label, q)
        for ((n, a, b) <- Seq(("query.build", m0, m1), ("query.plan", m1, m2), ("query.exec", m2, m3))) {
          val s = t.spans.open(n, qs.id, a)
          t.spans.close(s, b)
        }
      }
      Some(Exec(q, (m1 - m0) / 1000, (m2 - m1) / 1000, (m3 - m2) / 1000, rows, df, m2, m3))
    } catch {
      case e: Throwable =>
        r.fail(s"$q ($label)", e)
        None
    } finally sc.clearJobGroup()
  }

  /** Fixture tables a query's analyzed plan reads directly. */
  def tablesRead(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
      case _ => Nil
    }

  /** The rows of each query's last timed execution, one parquet file per
    * query, plus each query's DuckDB twin from SparkEntry.oracleSql, laid
    * out as graft.Verify writes them. */
  private def writeCheckInputs(spark: SparkSession, c: Main.Conf, w: Workload, r: Report,
      p: Pass): Unit = {
    val dir = c.out.resolve("check")
    Files.createDirectories(dir)
    p.execs.foreach { e =>
      spark.createDataFrame(e.rows.toSeq.asJava, e.df.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(e.name).toString)
    }
    val oracle = w.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    w.queries.filterNot(oracle.contains).foreach(n =>
      r.fail(s"$n (check)", new NoSuchElementException("no oracle SQL twin")))
    Files.writeString(dir.resolve("oracle_sql.json"), Json(oracle))
  }

  /** The traced run: two cold passes with the benchmark's listeners
    * attached, between two untraced ones (the overhead is the ratio of
    * their medians), one warm traced pass, a standalone scan of each
    * fixture, and, when the workload's plans use them, the native functions
    * and UDAFs measured one by one. */
  private def traced(spark: SparkSession, c: Main.Conf, w: Workload, r: Report): Unit = {
    val t = new Tracer(spark)
    val root = t.spans.open("workload", 0)
    root.attrs("workload") = w.name
    def tracedPass(label: String, clear: Boolean): Pass = {
      val ps = t.spans.open("pass", root.id)
      ps.attrs("pass") = label
      val p = pass(spark, c, w, r, label, Some((t, ps)), clear)
      t.spans.close(ps)
      p
    }
    def untraced(label: String): Pass = {
      t.detach()
      try pass(spark, c, w, r, label, None) finally t.attach()
    }
    // untraced, traced, traced, untraced: a steady drift (the JIT still
    // warming up) cancels out of the overhead
    val base1 = untraced("base1")
    val first = tracedPass("trace1", clear = true)
    t.drain()
    val (fnUses, udafUses) = t.planPhases.kernelUses // in one pass's plans
    val second = tracedPass("trace2", clear = true)
    val base2 = untraced("base2")
    writeCheckInputs(spark, c, w, r, base2)
    val cold = Seq(first, second)
    val warm = tracedPass("warm", clear = false)
    val scanS = w.tables.map { tb =>
      median((1 to 3).map { _ =>
        val t0 = now()
        table(spark, c.fixtures, tb).write.format("noop").mode("overwrite").save()
        now() - t0
      })
    }.sum
    val kernels =
      if (fnUses > 0 || udafUses > 0) Kernels.measure(spark, c.fixtures)
      else Map.empty[String, Double]
    t.spans.close(root)
    t.drain()

    // per-pass figures of the cold passes, reported as their median
    def perPass(f: Pass => Double): Double = median(cold.map(f))
    def counters(p: Pass) = t.ledger.counters(_.startsWith(s"perfbench/${p.label}/"))
    def driverGap(p: Pass): Double = p.execs.map { e =>
      val js = t.ledger.jobsWhere(_ == group(p.label, e.name))
        .filter(j => j.start >= e.execStartMs - 1 && j.start <= e.execEndMs + 1)
      math.max(0.0, e.exec - Ledger.covered(js.map(j => (j.start, j.end)),
        e.execStartMs, e.execEndMs) / 1000)
    }.sum

    r.metric("queries.build_s", perPass(_.execs.map(_.build).sum), "s")
    r.metric("queries.plan_s", perPass(_.execs.map(_.plan).sum), "s")
    r.metric("queries.exec_s", perPass(_.execs.map(_.exec).sum), "s")
    r.metric("spark.jobs", perPass(counters(_).jobs), "count")
    r.metric("spark.stages", perPass(counters(_).stages), "count")
    r.metric("spark.tasks", perPass(counters(_).tasks.toDouble), "count")
    r.metric("spark.task_cpu_s", perPass(counters(_).cpuS), "s")
    r.metric("spark.driver_gap_s", perPass(driverGap), "s")
    r.metric("spark.shuffle_write_bytes", perPass(counters(_).shuffleWriteBytes.toDouble), "bytes")
    r.metric("spark.spill_bytes", perPass(counters(_).spillBytes.toDouble), "bytes")
    r.metric("spark.peak_exec_mem_bytes", perPass(counters(_).peakExecMemBytes.toDouble), "bytes")
    r.metric("tables.input_rows", perPass(counters(_).inputRows.toDouble), "rows")
    r.metric("tables.input_bytes", perPass(counters(_).inputBytes.toDouble), "bytes")
    r.metric("tables.scan_s", scanS, "s")
    r.metric("memo.warm_pass_s", warm.wall, "s")
    r.metric("memo.build_s", perPass(_.wall) - warm.wall, "s")
    r.metric("functions.plan_uses", fnUses, "count")
    r.metric("udaf.plan_uses", udafUses, "count")
    Kernels.names.foreach(k => r.metric(s"$k.ns_per_row", kernels.getOrElse(k, 0.0), "ns"))
    r.metric("trace.overhead_pct",
      (perPass(_.wall) / median(Seq(base1.wall, base2.wall)) - 1) * 100, "%")

    // the span tree, with each query's job counters on its span
    (cold :+ warm).foreach { p =>
      p.execs.foreach { e =>
        val g = group(p.label, e.name)
        val qspan = t.spans.find(s => s.name == "query" && s.attrs.get("group").contains(g))
        qspan.foreach { qs =>
          qs.attrs ++= t.ledger.counters(_ == g).toMap
          qs.attrs ++= t.planPhases.of(e.df.queryExecution).map { case (k, v) => s"catalyst.${k}_ms" -> v }
          t.attachJobs(g, t.spans.children(qs.id), qs)
        }
      }
    }
    t.writeSpans(c.out.resolve("spans.json"))
    t.detach()
  }
}
