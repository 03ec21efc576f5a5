package graft.convbench

import java.nio.file.Paths

/** Entry point of the benchmark JVMs; `convbench/run.py` builds and drives
  * them, one JVM per step:
  *
  *   --mode stage   --workload W --seed N --work DIR
  *   --mode measure --workload W --seed N --work DIR --seconds S
  *   --mode trace   --workload W --seed N --work DIR --seconds S
  *
  * `stage` writes the workload's input for the seed under DIR when missing,
  * without Spark. `measure` and `trace` time the cold set-up, then make the
  * untraced (end-to-end) or traced (per-layer) run and print each metric
  * with its unit and sample count, then the result as one JSON line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case kv => throw new IllegalArgumentException(s"expected --option value, got ${kv.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.named(opt("workload"))
    val seed = opt("seed").toLong
    val layout = ConvBench.Layout(Paths.get(opt("work")).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors
    opt("mode") match {
      case "stage" => Workload.stage(w, seed, layout.staged(w, seed))
      case "measure" =>
        report(w, seed, ConvBench.measure(w, seed, opt("seconds").toDouble, layout, cores)).foreach(println)
      case "trace" =>
        report(w, seed, ConvBench.trace(w, seed, opt("seconds").toDouble, layout, cores)).foreach(println)
      case m => throw new IllegalArgumentException(s"--mode must be stage, measure or trace, got $m")
    }
  }

  /** The human-readable record — each metric's value with its unit, and
    * the samples it is the median of, the failed share, the host record and
    * any failures — followed by the result as the last line. */
  def report(w: Workload, seed: Long, o: ConvBench.Outcome): Seq[String] = {
    val table = o.metrics.map { m =>
      val samples = m.samples.map(x => f"$x%.4g").mkString(" ")
      f"  ${m.name}%-24s ${m.value}%.6g ${m.unit} (median of n=${m.samples.length}: $samples)"
    }
    val header = s"convbench ${w.name}: ${w.docs} docs x ${w.lines} lines" +
      (if (w.skew) s", ${w.megaDocs} mega-documents" else "") + s", seed $seed"
    val share = f"  failed_share             ${o.failed.toDouble / o.attempted}%.4f ratio (${o.failed} of ${o.attempted} conversions)"
    val host = "  host " + o.host.map { case (k, v) => s"$k=$v" }.mkString(" ")
    (header +: table) ++ Seq(share, host) ++ o.failures.map("  FAILED: " + _) :+ resultLine(o)
  }

  def resultLine(o: ConvBench.Outcome): String = {
    val metrics = o.metrics.map { m =>
      s""""${m.name}": {"value": ${if (m.value.isNaN) "0.0" else m.value.toString}, "unit": "${m.unit}"}"""
    }
    val correct = o.correct && o.metrics.forall(_.samples.nonEmpty)
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
  }
}
