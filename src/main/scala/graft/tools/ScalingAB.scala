package graft.tools

import graft.Tables
import graft.functions.CosineSim
import graft.queries.NearDup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only A/B evidence for SCALING.md: re-times the PRE-round-9 forms of
  * the two near-dup queries whose plans were restructured for the 10×
  * corpus (commit 231311e), so the before/after numbers in SCALING.md stay
  * reproducible instead of being one-off folklore.
  *
  *   - `old_prefix_filter`: the skinny-candidates AllPairs form — prefix
  *     join WITHOUT the PPJoin positional bound, DISTINCT over the full
  *     candidate stream, then two un-hinted verify joins that re-attach
  *     the shingle sets (planner picks sort-merge once the candidate
  *     stream's size estimate dwarfs the sets table).
  *   - `old_embedding_cosine`: the skinny-candidates LSH form — band
  *     collisions DISTINCTed first, vectors re-joined after, cosine +
  *     threshold evaluated on the deduped pairs.
  *
  * Both old forms produce the SAME rows as their current registered
  * replacements (the rewrites reorder pure per-pair predicates around the
  * dedup; the pair sets are identical) — this harness checks that row
  * equivalence, then prints min-of-N times next to the current forms.
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf1 sbt "runMain graft.tools.ScalingAB"
  */
object ScalingAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CosineSim.register(spark)
    // same warmup as Bench so pass 1 isn't charged codegen classloading
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()

    def timed(name: String, passes: Int)(body: => Long): Unit = {
      var best = Double.MaxValue
      for (_ <- 1 to passes) {
        spark.catalog.clearCache()
        graft.Memo.clear()
        val t0 = System.nanoTime()
        val n = body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        System.out.println(f"[ab] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
      System.out.println(f"[ab] $name MIN: $best%.2f s")
    }

    // ---- A: pre-231311e dedup_prefix_filter (skinny candidates, no
    // positional bound, un-hinted verify joins) ----
    def oldPrefixFilter() = {
      val sets = { val x = NearDup.shingleSetsOf(NearDup.tokens(spark, sfDir))
        .withColumn("sz", size(col("shl"))); x.cache().count(); x }
      val ex = sets.select(col("doc_id"), col("sz"), explode(col("shl")).as("sh"))
      val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
      val pref = ex.join(dfreq, "sh")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= expr("sz - (sz + 1) DIV 2 + 1"))
      val cand = pref.as("a").join(pref.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            lit(2) * least(col("a.sz"), col("b.sz")) >=
              greatest(col("a.sz"), col("b.sz")))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      cand
        .join(sets.select(col("doc_id").as("id1"), col("shl").as("s1")), "id1")
        .join(sets.select(col("doc_id").as("id2"), col("shl").as("s2")), "id2")
        .select(col("id1"), col("id2"),
          round(expr("jaccard_sim(s1, s2)"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }

    // ---- B: pre-231311e dedup_embedding_cosine (DISTINCT collisions
    // first, vectors re-joined after) ----
    val embBands = 2; val embBits = 8 // LlmSimilarity's constants
    def oldEmbCosine() = {
      val e = NearDup.spreadIfNarrow(spark,
          Tables.embeddings(spark, sfDir), "vec_id")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ed"))
        .cache()
      e.count()
      val sigs = e.select(col("vec_id"), posexplode(
        expr(s"hyperplane_sig(ed, $embBands, $embBits)")).as(Seq("bd", "sig")))
      val cand = sigs.as("a").join(sigs.as("b"),
          col("a.bd") === col("b.bd") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("id1"), col("ed").as("e1")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")), "id2")
        .select(col("id1"), col("id2"),
          round(expr("cosine_sim(e1, e2)"), 6).as("cosine"))
        .filter(col("cosine") >= 0.45)
    }

    // row-set equivalence old ≡ current (cheap: current output is small)
    val curPF = graft.SparkEntry.queries("dedup_prefix_filter")(spark, sfDir)
    val oldPF = oldPrefixFilter()
    val pfDiff = curPF.select("id1", "id2", "jaccard")
      .exceptAll(oldPF.select("id1", "id2", "jaccard")).count() +
      oldPF.select("id1", "id2", "jaccard")
        .exceptAll(curPF.select("id1", "id2", "jaccard")).count()
    System.out.println(s"[ab] prefix_filter old≡new: ${pfDiff == 0} (diff $pfDiff)")
    val curEC = graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir)
    val oldEC = oldEmbCosine()
    val ecDiff = curEC.exceptAll(oldEC.select("id1", "id2", "cosine")).count() +
      oldEC.select("id1", "id2", "cosine").exceptAll(curEC).count()
    System.out.println(s"[ab] embedding_cosine old≡new: ${ecDiff == 0} (diff $ecDiff)")

    val passes = if (args.nonEmpty) args(0).toInt else 2
    timed("old_prefix_filter", passes) { oldPrefixFilter().count() }
    timed("new_prefix_filter", passes) {
      graft.SparkEntry.queries("dedup_prefix_filter")(spark, sfDir).count() }
    timed("old_embedding_cosine", passes) { oldEmbCosine().count() }
    timed("new_embedding_cosine", passes) {
      graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir).count() }

    // ---- SemDeDup cell-count sensitivity (SCALING.md's sizing claim):
    // the within-cell pair kernel is quadratic in CELL POPULATION, so
    // growing the cell count with the corpus — the paper's rule — must
    // collapse both pair volume and runtime. Same hash-mod quantizer
    // shape at K = 10 / 40 / 160 (seed assignment, no Lloyd's: this
    // probes the JOIN's scaling, and the registered query's trained
    // cells have near-uniform population too). Drop counts fall as K
    // rises because expected dups/vector ≈ cellPop × P(cos ≥ τ).
    for (k <- Seq(10, 40, 160)) {
      val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          pmod(col("vec_id"), lit(k.toLong)).as("cell"))
      timed(s"semantic_cells_$k", passes) {
        e.as("a").join(e.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("b.vec_id").as("vec_id"),
            round(expr("cosine_sim(a.embedding, b.embedding)"), 6)
              .as("cosine"))
          .filter(col("cosine") >= 0.35)
          .select(col("vec_id")).distinct()
          .count()
      }
    }
    spark.stop()
  }
}
