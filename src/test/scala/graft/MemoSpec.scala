package graft

import scala.collection.mutable

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{LlmSimilarity, NearDup}

/** The train-once-serve-many memo (graft.Memo): the registry that lets
  * composed queries (similarity_ivfpq, curation_keep_best) consume the
  * model tables their siblings trained, instead of re-running the Lloyd's /
  * label-propagation loops per query. */
class MemoSpec extends AnyFunSuite with SparkFixture {

  test("cached builds once per key, isolates keys, and clear() invalidates") {
    val app = spark.sparkContext.applicationId
    var builds = 0
    def make() = { builds += 1; spark.range(1).toDF("x") }
    val a1 = Memo.cached(app, "memospec:a")(make())
    val a2 = Memo.cached(app, "memospec:a")(make())
    assert(a1 eq a2, "same key must serve the same frame instance")
    assert(builds == 1, "second lookup must not re-run the builder")
    Memo.cached(app, "memospec:b")(make())
    assert(builds == 2, "distinct key must build")
    // a different applicationId namespace can never serve this frame
    Memo.cached(app + "-other", "memospec:a")(make())
    assert(builds == 3, "distinct appId must build")
    Memo.clear()
    Memo.cached(app, "memospec:a")(make())
    assert(builds == 4, "clear() must force a rebuild")
  }

  test("trainers serve the memoized model table within a session") {
    Memo.clear()
    // IVF cells: second call must be the SAME frame (no retraining)
    val c1 = LlmSimilarity.ivfTrained(spark, sfSmall)
    val c2 = LlmSimilarity.ivfTrained(spark, sfSmall)
    assert(c1 eq c2)
    // cluster labels: shared between dedup_clusters and curation_keep_best
    val l1 = NearDup.clusterLabels(spark, sfSmall)
    val l2 = NearDup.clusterLabels(spark, sfSmall)
    assert(l1 eq l2)
    // star labels live under their OWN key — dedup_clusters_star exists to
    // exercise the star-contraction code path, so it must not be handed
    // the label-propagation result even though the values agree
    val s1 = NearDup.starLabels(spark, sfSmall)
    assert(!(s1 eq l1))
    // ...and the values DO agree (the PropertySpec equivalence, end-to-end)
    val lp = l1.orderBy(col("v")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val st = s1.orderBy(col("v")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lp.sameElements(st))
    Memo.clear()
    val c3 = LlmSimilarity.ivfTrained(spark, sfSmall)
    assert(!(c3 eq c1), "clear() must retrain")
    spark.catalog.clearCache()
    Memo.clear()
  }

  /** Jobs started while `body` runs, counted per job group. */
  private def jobsByGroup(body: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        val g = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        seen(g) += 1
      }
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) }
    finally { sc.removeSparkListener(l); sc.clearJobGroup() }
    seen.synchronized(seen.toMap)
  }

  test("Tables infers a fixture schema once per epoch") {
    Memo.clear()
    Tables.embeddings(spark, sfSmall)
    val again = jobsByGroup(Tables.embeddings(spark, sfSmall))
    assert(again.values.sum == 0, s"second read launched jobs: $again")
    Memo.clear()
    val cold = jobsByGroup(Tables.embeddings(spark, sfSmall))
    assert(cold.values.sum == 1, s"read after clear() must re-infer: $cold")
  }

  test("Tables re-reads a table rewritten in place after Memo.clear()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val path = s"$dir/embeddings.parquet"
    spark.range(3).toDF("vec_id").write.mode("overwrite").parquet(path)
    Memo.clear()
    assert(Tables.embeddings(spark, dir).columns.toSeq == Seq("vec_id"))
    spark.range(3).select(col("id").as("vec_id"), (col("id") * 2).as("extra"))
      .write.mode("overwrite").parquet(path)
    Memo.clear()
    val fresh = Tables.embeddings(spark, dir)
    assert(fresh.columns.toSeq == Seq("vec_id", "extra"))
    assert(fresh.orderBy("vec_id").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
  }

  test("two Tables reads of one fixture stay independent relations") {
    // only the schema is shared: a shared DataFrame would make the join
    // below a self-join whose two sides resolve to the same attributes
    val a = Tables.embeddings(spark, sfSmall)
    val b = Tables.embeddings(spark, sfSmall)
    assert(!(a eq b))
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val n = a.count()
    assert(a.select("vec_id").distinct().count() == n)
    assert(a.join(b, a("vec_id") < b("vec_id")).count() == n * (n - 1) / 2)
  }

  test("the near-dup signature chain is served once per epoch") {
    Memo.clear()
    val t1 = NearDup.tokens(spark, sfSmall)
    val m1 = NearDup.minhashSigs(spark, sfSmall)
    assert(NearDup.tokens(spark, sfSmall) eq t1)
    assert(NearDup.minhashSigs(spark, sfSmall) eq m1)
    // the one materialization job filled the cache
    for (df <- Seq(t1, m1))
      assert(df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      }.contains(true))
    spark.catalog.clearCache()
    Memo.clear()
    assert(!(NearDup.tokens(spark, sfSmall) eq t1))
    assert(!(NearDup.minhashSigs(spark, sfSmall) eq m1))
    spark.catalog.clearCache()
    Memo.clear()
  }

  test("cold dedup_minhash then dedup_ngram_jaccard stay within their job counts") {
    // the counter gate for the near-dup path: jobs do not swing with load,
    // so a re-introduced re-materialization of the signature chain (or a
    // per-read schema inference) shows here as extra jobs. The bounds are
    // the counts measured at sf0.01 under this suite's session (before the
    // signature chain was memoized and schemas inferred once: 26 and 12).
    spark.catalog.clearCache()
    Memo.clear()
    val sc = spark.sparkContext
    val jobs = jobsByGroup {
      for (q <- Seq("dedup_minhash", "dedup_ngram_jaccard")) {
        sc.setJobGroup(q, q)
        SparkEntry.queries(q)(spark, sfMid).collect()
      }
    }
    assert(jobs("dedup_minhash") <= 16, s"job counts: $jobs")
    assert(jobs("dedup_ngram_jaccard") <= 8, s"job counts: $jobs")
    spark.catalog.clearCache()
    Memo.clear()
  }
}
