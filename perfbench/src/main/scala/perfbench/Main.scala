package perfbench

/** One benchmark process: runs one workload and writes every raw sample
  * to `<out>/raw.json`. `perfbench/run.py` builds this, starts it, checks
  * the outputs and reduces the samples to the reported metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    new java.io.File(a.out).mkdirs()
    // read by every SparkConf created from here on, so every session
    // (cloned ones too) registers the phase listener
    if (a.trace) System.setProperty("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val raw = a.workload match {
      case "sweep-relational" | "sweep-composed" => Sweeps.run(a)
      case "stream-history" => Streams.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Json.write(new java.io.File(a.out, "raw.json").getPath,
      raw ++ Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
        "trace" -> a.trace, "seconds" -> a.seconds))
  }
}
