package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke runs of each `Probe` mode on the shared session. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def captured(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Probe.run(spark, args.toList))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("time mode prints a cold and a warm run") {
    val lines = captured("time", sf, "q01_agg_sum")
    assert(lines.map(_.takeWhile(_ != '=')) ==
      Seq("[probe] q01_agg_sum r1 n", "[probe] q01_agg_sum r2 n"), lines)
    assert(lines.forall(_.matches("""\[probe\] \S+ r\d n=[1-9]\d* \d+\.\d\d s""")), lines)
  }

  test("jobs mode prints the warm run's job timeline and a summary") {
    val lines = captured("jobs", sf, "q01_agg_sum")
    assert(lines.exists(_.startsWith("[job] ")), lines)
    assert(lines.last.startsWith("[probejobs] q01_agg_sum n="), lines)
  }

  test("plan mode writes the formatted explain per query") {
    val out = java.nio.file.Files.createTempDirectory("graft_probe_plan")
    val lines = captured("plan", sf, out.toString, "smoke", "q01_agg_sum")
    val plan = java.nio.file.Files.readString(out.resolve("q01_agg_sum_smoke.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
    assert(lines == Seq(s"[plandump] wrote $out/q01_agg_sum_smoke.txt (${plan.length} chars)"))
  }

  test("unknown mode fails with the usage line") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, List("explain", sf)))
    assert(e.getMessage.startsWith("usage:"))
  }
}
