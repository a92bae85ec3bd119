package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: replay embedding_pca_power's ENTIRE arithmetic on the driver
  * (quantize → exact int64 Gram stats → round-9 covariance → pcaIters
  * rounded power-iteration generations) and diff it against the engine —
  * the independent third implementation that checks the distributed
  * Aggregator + expression pipeline against plain sequential Scala, at
  * any SF (the r11 verdict asked for this pin at sf10's 200k vectors,
  * where the old comment's envelope claim said the int64 sums should
  * already have wrapped). Exact-match is the expectation: every float op
  * in the pipeline is a pinned IEEE expression tree (see pcaTrained).
  *
  * `GoldenSpec` calls [[PcaReplay.check]] at sf0.01 every test run; the
  * main is for the big fixtures: `SPARK_GRAFT_SF_DIR=target/sf10 sbt
  * "runMain graft.tools.PcaReplay"`. */
object PcaReplay {

  private def round(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (maxAbsLoadingDiff, eigDiff, n) between the engine's
    * embedding_pca_power output and the driver replay. */
  def check(spark: SparkSession, sfDir: String): (Double, Double, Long) = {
    val qs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000D + 0.5D) AS BIGINT)) AS qa")
      .collect().map(_.getSeq[Long](0).toArray)
    val d = 64
    val n = qs.length.toLong
    val gram = new Array[Long](d * d)
    val si = new Array[Long](d)
    qs.foreach { q =>
      var i = 0
      while (i < d) {
        si(i) += q(i)
        var j = 0
        while (j < d) { gram(i * d + j) += q(i) * q(j); j += 1 }
        i += 1
      }
    }
    val mat = Array.tabulate(d, d) { (i, j) =>
      round((n * gram(i * d + j) - si(i) * si(j)).toDouble
        / (n * n).toDouble / 1e6, 9)
    }
    var v = Array.fill(d)(1.0)
    var eig = 0.0
    for (_ <- 1 to graft.queries.LlmSimilarity.pcaIters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += mat(i)(j) * v(j); j += 1 }
        acc
      }
      val linf = w.map(math.abs).max
      v = w.map(x => round(x / linf, 6) + 0.0)
      eig = round(linf, 6)
    }
    val engine = graft.SparkEntry.queries("embedding_pca_power")(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    val loadDiff = engine.map(r => math.abs(r.getDouble(1) - v(r.getLong(0).toInt))).max
    val eigDiff = math.abs(engine.head.getDouble(2) - eig)
    (loadDiff, eigDiff, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (loadDiff, eigDiff, n) = check(spark, sfDir)
      println(f"[pcareplay] $sfDir n=$n maxLoadingDiff=$loadDiff%.3e eigDiff=$eigDiff%.3e")
    } finally spark.stop()
  }
}
