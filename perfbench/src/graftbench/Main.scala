package graftbench

/** Benchmark entry point: runs one workload in this JVM and writes
  * `result.json` (set-up phases, every timed op, counters) and, for a
  * traced run, `trace.jsonl` into `--out`. `perfbench/run.py` builds
  * the classpath, launches this main and derives the metrics.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --out <dir> --work <dir> --cpus <n> --config perfbench/workloads.json
  *     [--record 1]   # rewrite expected/registry_fingerprints.json
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = Opts.parse(args)
        val cfg = new com.fasterxml.jackson.databind.ObjectMapper().readTree(o.config.toFile)
        val h = new Harness(o, cfg)
        try {
          o.workload match {
            case "pipeline_hourly" => new PipelineHourly(h).run()
            case "registry_mix" => new RegistryMix(h).run()
            case "serve_jdbc" => new ServeJdbc(h).run()
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          h.writeResult()
        } finally if (h.spark != null) h.spark.stop()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}
