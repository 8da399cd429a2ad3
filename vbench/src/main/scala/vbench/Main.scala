package vbench

/** Harness entry point, launched by run.py with the generated input:
  *
  *   --workload pipeline_paired|sql_tools|corpus_prep
  *   --input DIR --work DIR --seconds S --trace 0|1 --out FILE --cpus N
  *
  * Writes the workload's [[Outcome]] as JSON to `--out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = Common.session(a.cpus, a.work)
    try {
      val tracer =
        if (a.trace) Some(new Tracer(spark.sparkContext, sys.env.get("VBENCH_SHIM_LOG")))
        else None
      val outcome = a.workload match {
        case "pipeline_paired" => PipelineWorkload.run(spark, a, tracer)
        case "sql_tools" => SqlWorkload.run(spark, a, tracer)
        case "corpus_prep" => CorpusWorkload.run(spark, a, tracer)
      }
      tracer.foreach(_.spans.write(s"${a.work}/spans.jsonl"))
      Common.writeOutcome(a.out, outcome)
    } finally spark.stop()
  }
}
