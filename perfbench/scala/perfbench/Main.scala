package perfbench

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--data <dir> --queries <file>]
  *   [--record <dir>]
  */
object Main {
  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.get("trace").contains("1")
    val work = args("work")
    val out = args("workload") match {
      case "quarter_stream" => Streams.run(QuarterStream, seed, seconds, trace, work, Setups)
      case "player_stream" => Streams.run(PlayerStream, seed, seconds, trace, work, Setups)
      case "curation_stream" =>
        val o = Streams.run(CurationStream, seed, seconds, trace, work, Setups)
        if (trace) withBatchLayers(o, seed, args) else o
      case "batch_mix" =>
        BatchMix.run(seed, trace, args("data"), args("queries"), Setups, args.get("record"))
      case w => sys.error(s"unknown workload $w")
    }
    println(json(out))
    System.out.flush()
  }

  /** batch_mix is not among the benchmark's workloads (see README), so the
    * curation_stream traced run records the batch layers with one cold
    * pass over the batch_mix queries. */
  def withBatchLayers(o: Outcome, seed: Long, args: Map[String, String]): Outcome = {
    val b = BatchMix.run(seed, trace = true, args("data"), args("queries"), 1, None)
    val m = new Metrics
    m ++= o.metrics
    for ((k, (v, u)) <- b.metrics.entries
         if Seq("ops.", "snapshot.", "batch.", "cv.").exists(k.startsWith))
      m.put(k, v, u)
    Outcome(o.attempted + b.attempted, o.failed + b.failed, m)
  }

  def json(o: Outcome): String = {
    def num(d: Double) = {
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    }
    val ms = o.metrics.entries.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": $ms}"""
  }
}
