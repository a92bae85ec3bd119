package perfbench

import graft.Tables
import graft.functions.CosineSim
import graft.udaf.{CentroidAgg, GramAgg, KllQuantileAgg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Stats.{median, now}

/** Cost per row of each native function `CosineSim.register` installs and
  * of each UDAF, applied alone over the fixture documents and embeddings.
  *
  * Each input is replicated, cached and materialized first, so a
  * measurement reads only cached rows. Its cost is the median time of a
  * projection (or aggregate) with the kernel, minus the median time of the
  * same pipeline with a trivial expression over the same column, divided
  * by the row count. */
object Kernels {
  val functions: Seq[String] = Seq("cosine_sim", "jaccard_sim", "hyperplane_sig",
    "poly_hash", "minhash_sigs", "simhash_sig", "ngram_hashes", "ngram_hashes_pos",
    "ngram_hashes_pos_b", "pq_nearest", "cos_argmax")
  val udafs: Seq[String] = Seq("KllQuantileAgg", "CentroidAgg", "GramAgg")
  val names: Seq[String] = functions.map("functions." + _) ++ udafs.map("udaf." + _)

  private val copies = 20
  private val reps = 3

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    CosineSim.register(spark)
    val rep = spark.range(copies).toDF("copy")
    val docs = Tables.documents(spark, dir).crossJoin(rep)
      .selectExpr("text", "CAST(length(text) AS DOUBLE) AS len",
        "transform(split(text, ' '), t -> poly_hash(t)) AS tokh")
      .selectExpr("text", "len", "tokh", "ngram_hashes(tokh, 3) AS shl",
        "ngram_hashes(tokh, 2) AS shl2")
      .cache()
    val centroids = Tables.embeddings(spark, dir).orderBy("vec_id").limit(16)
      .collect().map(_.getSeq[Float](1))
    val cands = centroids.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toDouble)) }.toSeq
    val cands8 = cands.map { case (i, v) => (i, v.take(8)) }
    val emb = Tables.embeddings(spark, dir).crossJoin(rep)
      .select(col("embedding"),
        typedLit(centroids.head).as("qv"),
        typedLit(cands).as("cands"),
        typedLit(cands8).as("cands8"),
        expr("transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))").as("sv"),
        expr("transform(embedding, x -> CAST(round(x * 127) AS BIGINT))").as("q"))
      .cache()
    try {
      val nDocs = docs.count().toDouble
      val nEmb = emb.count().toDouble
      def project(df: DataFrame, e: String): Double = median((1 to reps).map { _ =>
        val t0 = now()
        df.select(expr(e).as("o")).write.format("noop").mode("overwrite").save()
        now() - t0
      })
      def aggregate(df: DataFrame, c: Column): Double = median((1 to reps).map { _ =>
        val t0 = now()
        df.agg(c.as("o")).collect()
        now() - t0
      })
      def nsPerRow(t: Double, base: Double, n: Double): Double = (t - base) / n * 1e9

      val docBase = project(docs, "size(shl)")
      val embBase = project(emb, "size(embedding)")
      val fnCost = Seq(
        "cosine_sim" -> (emb, "cosine_sim(embedding, qv)"),
        "jaccard_sim" -> (docs, "jaccard_sim(shl, shl2)"),
        "hyperplane_sig" -> (emb, "hyperplane_sig(embedding, 4, 10)"),
        "poly_hash" -> (docs, "poly_hash(text)"),
        "minhash_sigs" -> (docs, "minhash_sigs(shl, 16)"),
        "simhash_sig" -> (docs, "simhash_sig(shl, 64)"),
        "ngram_hashes" -> (docs, "ngram_hashes(tokh, 3)"),
        "ngram_hashes_pos" -> (docs, "ngram_hashes_pos(tokh, 3)"),
        "ngram_hashes_pos_b" -> (docs, "ngram_hashes_pos_b(tokh, 3)"),
        "pq_nearest" -> (emb, "pq_nearest(sv, cands8)"),
        "cos_argmax" -> (emb, "cos_argmax(embedding, cands)"),
      ).map { case (f, (df, e)) =>
        val (base, n) = if (df eq docs) (docBase, nDocs) else (embBase, nEmb)
        s"functions.$f" -> nsPerRow(project(df, e), base, n)
      }
      val docAggBase = aggregate(docs, max(col("len")))
      val embAggBase = aggregate(emb, max(size(col("embedding"))))
      val udafCost = Seq(
        "udaf.KllQuantileAgg" -> nsPerRow(aggregate(docs, KllQuantileAgg(col("len"))), docAggBase, nDocs),
        "udaf.CentroidAgg" -> nsPerRow(aggregate(emb, CentroidAgg(col("embedding"))), embAggBase, nEmb),
        "udaf.GramAgg" -> nsPerRow(aggregate(emb, GramAgg(col("q"))), embAggBase, nEmb))
      (fnCost ++ udafCost).toMap
    } finally {
      docs.unpersist()
      emb.unpersist()
    }
  }
}
