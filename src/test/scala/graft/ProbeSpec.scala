package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The dev probe (graft.tools.Probe) driven against the suite session:
  * each mode prints its own lines, and a bad mode or query name prints the
  * usage line with the valid names, without throwing or stopping the
  * shared session. */
class ProbeSpec extends AnyFunSuite with SparkFixture {

  private def probe(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, sfSmall, args.toArray))
    out.toString("UTF-8")
  }

  test("time: one line per pass, then the minimum") {
    val out = probe("time", "agg_groupby", "2")
    assert(out.contains("[probe] time agg_groupby pass 1: "), out)
    assert(out.contains("[probe] time agg_groupby pass 2: "), out)
    assert(out.contains("[probe] time agg_groupby MIN: "), out)
  }

  test("bench-some: per-pass lines, per-query minimum and the total") {
    val out = probe("bench-some", "agg_groupby,agg_distinct", "2")
    assert(out.contains("[probe] bench-some agg_distinct pass 2: "), out)
    assert(out.contains("[probe] bench-some agg_groupby MIN: "), out)
    assert(out.linesIterator.toSeq.last.startsWith("[probe] bench-some MIN-TOTAL: "), out)
  }

  test("chains: cold, warm and the build estimate") {
    val out = probe("chains", "agg_groupby")
    assert(out.contains("[probe] chains agg_groupby cold: "), out)
    assert(out.contains("[probe] chains agg_groupby warm: "), out)
    assert(out.contains("[probe] chains agg_groupby build (cold - warm): "), out)
  }

  test("explain: the pre-execution plan to stdout or a file, then the final-plan census") {
    val out = probe("explain", "agg_groupby")
    assert(out.startsWith("== Physical Plan ==") && out.contains("isFinalPlan=false"), out)
    // counted over the final adaptive plan only (not its initial twin)
    assert(out.linesIterator.toSeq.last ==
      "[probe] explain agg_groupby census: scans=1 shuffles=1 broadcasts=0 reused=0", out)
    val dir = Files.createTempDirectory("probe-explain")
    val toFile = probe("explain", "agg_groupby", dir.toString, "before")
    val file = dir.resolve("agg_groupby_before.txt")
    assert(toFile.startsWith(s"[probe] explain agg_groupby wrote $file"), toFile)
    assert(Files.readString(file).startsWith("== Physical Plan =="))
  }

  test("show: the first n rows") {
    val out = probe("show", "agg_groupby", "1")
    assert(out.startsWith("[probe] show agg_groupby\n+---"), out)
    assert(out.contains("only showing top 1 row"), out)
  }

  test("an unknown mode or query prints the usage line and leaves the session up") {
    for (args <- Seq(Seq("nosuchmode", "agg_groupby"), Seq("time", "agg_groupby,nosuchquery"),
        Seq.empty[String])) {
      val out = probe(args: _*)
      assert(out.startsWith("[probe] usage: Probe <time|bench-some|chains|explain|show>"), out)
      assert(out.contains("valid names: ") && out.contains("agg_groupby"), out)
    }
    assert(probe("time", "nosuchquery").contains("unknown query nosuchquery"))
    assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3)
  }
}
