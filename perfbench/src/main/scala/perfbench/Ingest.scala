package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.Streams
import graft.streaming.Streams.{BotOut, Event, UserTick}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import Stats.{median, now, quantile}

/** The `stream_ingest` workload: an open-loop event generator feeding two
  * streaming queries, each through its own in-memory source (two
  * consumers of one topic):
  *
  *   - `Streams.dedupWithinWatermark` into `Streams.toForeachBatchSink`
  *     (state store, parquet writes per micro-batch);
  *   - `Streams.botProfileStream` into an update-mode memory sink (custom
  *     per-user state).
  *
  * The generator sends on a fixed schedule that does not slow down when
  * the engine does. Each event's `ts` is the time it was due.
  */
object Ingest {
  /** The fixed rate at which emit latency is measured, events per second. */
  val rateEps = 2000
  /** Events per burst in the drain passes. */
  val burstEvents = 10000
  val bursts = 5
  /** Send interval of the generator, ms. */
  private val lingerMs = 50L
  private val users = 5000
  private val zipfS = 1.1
  private val dupShare = 0.02
  private val types = Array("click", "view", "purchase", "signup", "error")

  /** Seeded event source: Zipf-skewed `user_id`s and a small share of
    * re-sent events (same `event_id` and `ts`, as an at-least-once
    * producer re-sends). The sequence of draws depends only on the seed. */
  final class Generator(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to users).map(k => 1.0 / math.pow(k, zipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private var nextId = 0L
    val sent = mutable.ArrayBuffer[Event]()

    def next(dueUs: Long): Event = {
      val e =
        if (sent.nonEmpty && rnd.nextDouble() < dupShare)
          sent(sent.size - 1 - rnd.nextInt(math.min(sent.size, 200)))
        else {
          val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
          nextId += 1
          Event(nextId, ts(dueUs), (if (u >= 0) u else -u - 1).toLong,
            types(rnd.nextInt(types.length)), math.round(rnd.nextDouble() * 10000) / 100.0)
        }
      sent += e
      e
    }
  }

  def epochUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def ts(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** A started pair of streaming queries and their inputs. */
  final class Pipeline(spark: SparkSession, c: Main.Conf, tag: String, seed: Long) {
    import spark.implicits._
    private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gen = new Generator(seed)
    private val dedupIn = MemoryStream[Event]
    private val botIn = MemoryStream[Event]
    val sinkDir: String = c.out.resolve(s"stream-sink-$tag").toString
    val botTable = s"bot_profiles_$tag"
    /** (batch id, wall-clock commit time in epoch ms) per sink commit. */
    val commits = new ConcurrentLinkedQueue[(Long, Double)]()

    val dedup: StreamingQuery = Streams.toForeachBatchSink(
      Streams.dedupWithinWatermark(dedupIn.toDF()), sinkDir,
      (id, _) => commits.add((id, epochUs() / 1000.0)))
    val bot: StreamingQuery = Streams.toMemorySink(
      Streams.botProfileStream(ticks(botIn.toDF())).toDF(), botTable, OutputMode.Update())

    def ticks(events: DataFrame) = events.select(col("user_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_id")).as[UserTick]

    def send(es: Seq[Event]): Unit = {
      dedupIn.addData(es)
      botIn.addData(es)
    }

    def drain(): Unit = {
      dedup.processAllAvailable()
      bot.processAllAvailable()
    }

    def queries: Seq[StreamingQuery] = Seq(dedup, bot)

    def stop(): Unit = queries.foreach(_.stop())

    /** A burst of events, all due now, sent at once and drained through
      * both queries; returns the drain time. */
    def burst(n: Int): Double = {
      val due = epochUs()
      val es = (1 to n).map(_ => gen.next(due))
      val t0 = now()
      send(es)
      drain()
      now() - t0
    }

    /** Sends at `rate` events per second for `seconds`, on a fixed
      * schedule: events are created at evenly spaced due times and sent in
      * chunks every `lingerMs` (as a producer batches sends), then
      * drained. Returns each chunk's lateness (ms) against its due time,
      * and the backlog (rows sent but not yet committed by the dedup
      * query) when the schedule ended. */
    def openLoop(rate: Int, seconds: Double): (Seq[Double], Long) = {
      val total = (rate * seconds).toLong
      val t0 = epochUs()
      def due(i: Long): Long = t0 + i * 1000000L / rate
      val late = mutable.ArrayBuffer[Double]()
      val before = committedRows()
      var i = 0L
      var k = 1L
      while (i < total) {
        val chunkDue = t0 + k * lingerMs * 1000L
        val wait = chunkDue - epochUs()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait * 1000L)
        val chunk = mutable.ArrayBuffer[Event]()
        while (i < total && due(i) <= chunkDue) {
          chunk += gen.next(due(i))
          i += 1
        }
        late += (epochUs() - chunkDue) / 1000.0
        send(chunk.toSeq)
        k += 1
      }
      val backlog = total - (committedRows() - before)
      drain()
      (late.toSeq, backlog)
    }

    /** Input rows of every dedup micro-batch committed so far. */
    def committedRows(): Long = dedup.recentProgress.map(_.numInputRows).sum
  }

  def run(c: Main.Conf): Report = {
    val r = new Report
    var spark: SparkSession = null
    var p: Pipeline = null

    // Set-up, three times over: start a session, start both queries, and
    // warm them up with a few bursts. The third pipeline is measured.
    val starts = (1 to 3).map { k =>
      val t0 = now()
      if (p != null) p.stop()
      if (spark != null) spark.stop()
      spark = Session.start(c)
      p = new Pipeline(spark, c, s"s$k", c.seed)
      p.burst(2000)
      now() - t0
    }

    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    // drain passes, before the open loop grows the state; a traced run
    // alternates untraced and traced bursts in the order u t t u u t ...,
    // so a steady drift cancels out
    def burst(traced: Boolean): Double = {
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      p.burst(burstEvents)
    }
    val (untracedBursts, drains) = (1 to bursts).map { k =>
      if (!c.trace) { val u = burst(traced = false); (u, u) }
      else if (k % 2 == 1) { val u = burst(traced = false); (u, burst(traced = true)) }
      else { val t = burst(traced = true); (burst(traced = false), t) }
    }.unzip
    tracer.foreach(_.attach())

    val progressFrom = p.queries.map(q => q.id -> q.recentProgress.length).toMap
    val rateStartMs = epochUs() / 1000.0
    val (late, backlog) = p.openLoop(rateEps, c.seconds)
    val rateEndMs = epochUs() / 1000.0
    val rateProgress = p.queries.map(q => q -> q.recentProgress.drop(progressFrom(q.id)).toSeq)

    // outputs: each stream against the same transform run as a batch
    check(spark, p, r)

    val dedupProgress = rateProgress.head._2
    val batchS = rateProgress.flatMap(_._2).map(d => ms(d, "triggerExecution") / 1000.0)
    val emit = emitLatencies(dedupProgress, p.commits.asScala.toSeq)
    val passS = median(drains)
    r.info("rate_eps", rateEps, "1/s")
    r.info("gen_late_p99_ms", quantile(late, 0.99), "ms")
    r.info("backlog_rows", backlog.toDouble, "rows")
    r.info("micro_batches", batchS.size, "count")
    if (!c.trace) {
      r.metric("setup_s", median(starts), "s")
      r.metric("pass_s", passS, "s")
      r.metric("query_p50_s", quantile(batchS, 0.5), "s")
      r.info("query_p90_s", quantile(batchS, 0.9), "s")
      r.metric("sustained_eps", burstEvents / passS, "1/s")
      r.metric("emit_latency_p50_ms", quantile(emit, 0.5), "ms")
      r.info("emit_latency_p99_ms", quantile(emit, 0.99), "ms")
    }
    tracer.foreach { t =>
      t.drain()
      val ps = rateProgress.flatMap(_._2)
      def med(f: StreamingQueryProgress => Double) = median(ps.map(f))
      val last = rateProgress.map(_._2.last)
      val groups = p.queries.map(_.runId.toString).toSet
      val jobs = t.ledger.counters(g => groups(g))
      val busy = p.queries.map { q =>
        val js = t.ledger.jobsWhere(_ == q.runId.toString)
          .filter(j => j.start >= rateStartMs && j.start <= rateEndMs)
        Ledger.covered(js.map(j => (j.start, j.end)), rateStartMs, Double.MaxValue)
      }.sum / 1000
      r.metric("spark.jobs", jobs.jobs, "count")
      r.metric("spark.stages", jobs.stages, "count")
      r.metric("spark.tasks", jobs.tasks.toDouble, "count")
      r.metric("spark.task_cpu_s", jobs.cpuS, "s")
      r.metric("spark.driver_gap_s", math.max(0.0, batchS.sum - busy), "s")
      r.metric("spark.shuffle_write_bytes", jobs.shuffleWriteBytes.toDouble, "bytes")
      r.metric("spark.spill_bytes", jobs.spillBytes.toDouble, "bytes")
      r.metric("spark.peak_exec_mem_bytes", jobs.peakExecMemBytes.toDouble, "bytes")
      r.metric("stream.batch_ms_p50", med(ms(_, "triggerExecution")), "ms")
      r.metric("stream.planning_ms", med(ms(_, "queryPlanning")), "ms")
      r.metric("stream.add_batch_ms", med(ms(_, "addBatch")), "ms")
      r.metric("stream.commit_ms", med(d => ms(d, "walCommit") + ms(d, "commitOffsets")), "ms")
      r.metric("stream.state_rows", last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble, "rows")
      r.metric("stream.state_mem_bytes",
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble, "bytes")
      r.metric("stream.state_commit_ms", med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      r.metric("stream.backlog_rows", backlog.toDouble, "rows")
      r.metric("stream.watermark_lag_ms", watermarkLagMs(dedupProgress.last), "ms")
      r.metric("stream.gen_late_p99_ms", quantile(late, 0.99), "ms")
      r.metric("trace.overhead_pct", (median(drains) / median(untracedBursts) - 1) * 100, "%")

      val root = t.spans.open("workload", 0, rateStartMs)
      root.attrs("workload") = c.workload
      t.progress.events.synchronized(t.progress.events.toSeq).map(_.progress).foreach { pr =>
        val start = Instant.parse(pr.timestamp).toEpochMilli.toDouble
        val mb = t.spans.open("microbatch", root.id, start)
        t.spans.close(mb, start + ms(pr, "triggerExecution"))
        mb.attrs ++= Seq("query" -> pr.name, "run_id" -> pr.runId.toString,
          "batch_id" -> pr.batchId, "input_rows" -> pr.numInputRows)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .filter(pr.durationMs.containsKey).foreach { k =>
            val s = t.spans.open(s"microbatch.$k", mb.id, at)
            at += ms(pr, k)
            t.spans.close(s, at)
          }
      }
      t.spans.close(root, rateEndMs)
      t.writeSpans(c.out.resolve("spans.json"))
      t.detach()
    }
    p.stop()
    r
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Per sink commit: commit time minus the creation time of the newest
    * event in that micro-batch. */
  private def emitLatencies(ps: Seq[StreamingQueryProgress],
      commits: Seq[(Long, Double)]): Seq[Double] = {
    val newest = ps.flatMap(pr => Option(pr.eventTime.get("max"))
      .map(m => pr.batchId -> Instant.parse(m).toEpochMilli.toDouble)).toMap
    commits.flatMap { case (id, at) => newest.get(id).map(at - _) }
  }

  private def watermarkLagMs(pr: StreamingQueryProgress): Double =
    Option(pr.eventTime.get("watermark"))
      .map(w => Instant.parse(pr.timestamp).toEpochMilli - Instant.parse(w).toEpochMilli)
      .getOrElse(0L).toDouble

  /** Compares each sink with the same `Streams` transform run as a batch
    * over every event the generator sent to it. */
  private def check(spark: SparkSession, p: Pipeline, r: Report): Unit = {
    import spark.implicits._
    val sent = spark.createDataset(p.gen.sent.toSeq).toDF()
    r.attempted += 1
    try {
      // the watermark bounds only how long the stream keeps ids; every
      // event here is within it, so the batch twin is an exact dedup
      // (dropDuplicatesWithinWatermark itself is streaming-only)
      def rows(df: DataFrame) = df.select("event_id", "ts", "user_id", "event_type", "value")
        .collect().map(_.toString).sorted.toSeq
      val streamed = rows(spark.read.parquet(p.sinkDir))
      val batch = rows(sent.dropDuplicates("event_id"))
      if (streamed != batch)
        r.fail("dedup stream vs batch", new IllegalStateException(
          s"${streamed.size} streamed rows vs ${batch.size} batch rows, " +
            s"${streamed.diff(batch).size} differ"))
    } catch { case e: Throwable => r.fail("dedup stream vs batch", e) }
    r.attempted += 1
    try {
      // profiles compare as text, so a NaN cv (all gaps zero) equals itself
      val streamed = spark.table(p.botTable).as[BotOut].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_gaps).toString }
      val batch = Streams.botProfileStream(p.ticks(sent)).collect()
        .map(b => b.user_id -> b.toString).toMap
      val differ = streamed.toSet.diff(batch.toSet)
      if (streamed.size != batch.size || differ.nonEmpty)
        r.fail("bot profile stream vs batch", new IllegalStateException(
          s"${streamed.size} streamed users vs ${batch.size} batch users, " +
            s"${differ.size} differ, e.g. ${differ.take(2).mkString(", ")}"))
    } catch { case e: Throwable => r.fail("bot profile stream vs batch", e) }
  }
}
