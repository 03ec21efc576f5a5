package graft.convbench

import graft.{BenchSession, Substrate}
import graft.operators.Pipeline
import graft.schema.SchemaDict
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The conversion benchmark: set-up, a closed loop of checked conversions,
  * and the traced run that splits a conversion into its layers. */
object ConvBench {

  /** end-to-end metrics (untraced run): name → unit */
  val EndToEnd: Seq[(String, String)] = Seq(
    "convert_s" -> "s",
    "triples_per_s" -> "triples/s",
    "setup_s" -> "s",
    "out_bytes_per_triple" -> "B",
    "heap_peak_mb" -> "MiB")

  /** per-layer metrics (traced run): name → unit */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "sources.input_passes" -> "ratio",
    "operators.fused_s" -> "s",
    "operators.decode_s" -> "s",
    "operators.task_skew" -> "ratio",
    "operators.stmts" -> "count",
    "operators.candidates" -> "count",
    "operators.triples" -> "count",
    "operators.markers" -> "count",
    "operators.dedup_keep" -> "ratio",
    "shuffle.bytes" -> "B",
    "shuffle.records" -> "count",
    "shuffle.write_s" -> "s",
    "shuffle.fetch_wait_s" -> "s",
    "shuffle.spill_bytes" -> "B",
    "sinks.parquet_s" -> "s",
    "sinks.bytes" -> "B",
    "sinks.files" -> "count",
    "sinks.tasks" -> "count",
    "sinks.task_skew" -> "ratio",
    "cli.driver_s" -> "s",
    "cli.sink_s" -> "s",
    "schema.dict_load_s" -> "s",
    "spark.cpu_s" -> "s",
    "jvm.gc_s" -> "s",
    "spark.cpu_util" -> "ratio",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "trace.convert_s" -> "s")

  /** the dictionary every SynthCorpus document is written against */
  val Schema = "IFC4_ADD2_TC1"

  /** shuffle partitions the CLI's own session runs with (`IfcToRdf.main`) */
  val CliShufflePartitions = 32

  final case class Layout(work: Path) {
    def staged(w: Workload, seed: Long): Path = work.resolve("stage").resolve(w.key(seed))
    def out(name: String): Path = work.resolve("out").resolve(name)
    /** Spark's scratch space; the benchmark writes only inside its checkout */
    def sparkLocal: Path = work.resolve("spark-local")
  }

  /** One reported metric: its samples, summed up by their median. */
  final case class Metric(name: String, unit: String, samples: Seq[Double]) {
    def value: Double = median(samples)
  }

  /** A measurement's outcome: every metric, the conversions attempted and
    * failed, and the host record. */
  final case class Outcome(metrics: Seq[Metric], attempted: Int, failed: Int,
                           failures: Seq[String], host: Seq[(String, String)]) {
    def correct: Boolean = failed == 0
  }

  def session(w: Workload, layout: Layout, cores: Int): SparkSession = {
    val spark = BenchSession.local("graft-convbench", cores)
      .config("spark.local.dir", layout.sparkLocal.toString)
      .config("spark.sql.warehouse.dir", layout.work.resolve("warehouse").toString)
      // the SQL status store keeps up to 1000 past queries by default; it
      // grew the live heap by ~8 MiB per cli_ttl conversion, so the heap
      // peak rose with the number of conversions in the window
      .config("spark.sql.ui.retainedExecutions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (w.cli) spark.conf.set("spark.sql.shuffle.partitions", CliShufflePartitions.toLong)
    spark
  }

  /** What every CLI invocation pays before its conversion is warm: session
    * build, first dictionary load and the cold first conversion. */
  final case class Setup(spark: SparkSession, setup: Timed, dictLoadS: Double, out: Path)

  /** The cold set-up, first thing in its JVM. The input must already be
    * staged, by another JVM, so that no class the set-up uses is loaded
    * before it starts, whether or not the input was staged before. */
  def setup(w: Workload, seed: Long, layout: Layout, cores: Int): Setup = {
    val staged = layout.staged(w, seed)
    require(Workload.isStaged(w, staged), s"no staged input at $staged")
    val out = layout.out("setup")
    Workload.deleteTree(out)
    val ((spark, dictLoadS), t) = timed {
      val spark = session(w, layout, cores)
      val dictLoadS = seconds(SchemaDict.load(Schema))
      Workload.convert(w, staged, out)(spark)
      (spark, dictLoadS)
    }
    Setup(spark, t, dictLoadS, out)
  }

  /** the time `f` takes when no other guest steals its CPUs (see [[Timed]]) */
  private def seconds(f: => Unit): Double = timed(f)._2.seconds

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The host record around a measured window: `Substrate.probe` before
    * and after it, and the share of the host's CPU time that the hypervisor
    * gave to other guests during it (steal time in /proc/stat, 0 without). */
  private final class HostWatch(cores: Int) {
    private val before = probe("before")
    private val ticks0 = CpuTicks.now()

    def record(): Seq[(String, String)] = {
      val d = CpuTicks.now() - ticks0
      before ++ probe("after") :+ ("window.steal_share" -> f"${d.steal.toDouble / math.max(1L, d.total)}%.3f")
    }

    private def probe(when: String): Seq[(String, String)] = {
      val (cpu1, cpuN, membw) = Substrate.probe(cores)
      Seq(s"probe_$when.cpu1_mhash_s" -> f"$cpu1%.1f", s"probe_$when.cpuN_mhash_s" -> f"$cpuN%.1f",
        s"probe_$when.membw_gib_s" -> f"$membw%.2f")
    }
  }

  /** CPU time of the whole machine, summed over its CPUs, in jiffies: the
    * time spent running (`busy`), the time the hypervisor ran other guests
    * while a CPU of this one was waiting to run (`steal`), and everything,
    * idle included (`total`); from the `cpu` line of /proc/stat, zeros
    * where that cannot be read. */
  final case class CpuTicks(busy: Long, steal: Long, total: Long) {
    def -(o: CpuTicks): CpuTicks = CpuTicks(busy - o.busy, steal - o.steal, total - o.total)
    /** busy ÷ (busy + steal): the share of the CPU time asked for that the host gave */
    def granted: Double = if (busy + steal <= 0) 1.0 else busy.toDouble / (busy + steal)
  }

  object CpuTicks {
    def now(): CpuTicks =
      try {
        // user nice system idle iowait irq softirq steal ...
        val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
        def at(i: Int) = if (f.length > i) f(i) else 0L
        CpuTicks(at(0) + at(1) + at(2) + at(5) + at(6), at(7), f.take(8).sum)
      } catch { case _: java.io.IOException => CpuTicks(0L, 0L, 0L) }
  }

  /** A timed span: its wall time, and the share of the CPU time asked for
    * during it that the host gave. `seconds` is the wall time scaled by that
    * share, the time the span takes when no other guest of the host steals
    * its CPUs; it is what the benchmark reports, because on a shared host
    * steal comes and goes over minutes and moves the wall time by more than
    * any bound a run could hold. */
  final case class Timed(wall: Double, granted: Double) {
    def seconds: Double = wall * granted
  }

  def timed[A](f: => A): (A, Timed) = {
    val c0 = CpuTicks.now()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    (a, Timed(wall, (CpuTicks.now() - c0).granted))
  }

  /** the Spark settings that shape the plan and the shuffle */
  private val RecordedConf = Seq("spark.master", "spark.default.", "spark.sql.shuffle.",
    "spark.sql.adaptive.", "spark.shuffle.", "spark.locality.", "spark.file.")

  private def confRecord(spark: SparkSession, cores: Int): Seq[(String, String)] =
    Seq("nproc" -> cores.toString, "xmx_mib" -> (Runtime.getRuntime.maxMemory / 1048576).toString) ++
      spark.conf.getAll.toSeq.sortBy(_._1)
        .collect { case (k, v) if RecordedConf.exists(k.startsWith) => s"conf.$k" -> v }

  private final case class Converted(time: Timed, callMs: Long, trace: Option[ConversionTrace]) {
    def seconds: Double = time.seconds
  }

  /** Converts once into a fresh directory and checks the committed output;
    * the output is removed afterwards. Returns the conversion's wall time
    * (and its listener record, with a `recorder`), or why it failed. */
  private def checkedConversion(w: Workload, staged: Path, out: Path, ref: Workload.Reference,
                                recorder: Option[Recorder], tamper: Path => Unit)
                               (observe: Path => Unit)
                               (implicit spark: SparkSession): Either[String, Converted] = {
    Workload.deleteTree(out)
    recorder.foreach(_.begin())
    val result =
      try {
        val callMs = System.currentTimeMillis()
        val (_, t) = timed(Workload.convert(w, staged, out))
        val trace = recorder.map(_.end())
        tamper(out)
        Workload.check(w, out, ref).toLeft(Converted(t, callMs, trace))
      } catch { case e: Exception => Left(s"conversion threw $e") }
    if (result.isRight) observe(out)
    Workload.deleteTree(out)
    result
  }

  /** The set-up conversion's check, then the closed loop: `round()` runs
    * one checked conversion, plus whatever it measures around it, and
    * returns its failure, if any. Rounds repeat until `windowS` has passed. */
  private def closedLoop(su: Setup, ref: Workload.Reference, w: Workload, windowS: Double)
                        (round: () => Option[String])
                        (implicit spark: SparkSession): (Int, Seq[String]) = {
    val failures = ArrayBuffer[String]()
    Workload.check(w, su.out, ref).foreach(f => failures += s"setup conversion: $f")
    Workload.deleteTree(su.out)
    var attempted = 1
    val t0 = System.nanoTime()
    do {
      // start every round from a collected heap, so neither its times nor
      // its heap peak carry the previous round's garbage
      System.gc()
      attempted += 1
      round().foreach(failures += _)
    } while ((System.nanoTime() - t0) / 1e9 < windowS)
    (attempted, failures.toSeq)
  }

  /** Untraced run. `tamper` alters each committed output of the loop
    * before its check (tests use it). */
  def measure(w: Workload, seed: Long, windowS: Double, layout: Layout, cores: Int,
              tamper: Path => Unit = _ => ()): Outcome = {
    val su = setup(w, seed, layout, cores)
    implicit val spark: SparkSession = su.spark
    val staged = layout.staged(w, seed)
    val ref = Workload.reference(w, staged)
    val hostWatch = new HostWatch(cores)
    val heap = new HeapWatch
    val times = ArrayBuffer[Timed]()
    val heaps, bytes = ArrayBuffer[Double]()
    val (attempted, failures) = closedLoop(su, ref, w, windowS) { () =>
      heap.reset()
      checkedConversion(w, staged, layout.out("measure"), ref, None, tamper) { out =>
        heaps += heap.peakMiB
        bytes += Workload.dataFiles(out).map(Files.size).sum.toDouble
      }.map(c => times += c.time).left.toOption
    }
    heap.close()
    val host = confRecord(spark, cores) ++ hostWatch.record() ++ Seq(
      "convert.wall_s" -> times.map(t => f"${t.wall}%.3f").mkString(","),
      "convert.granted" -> times.map(t => f"${t.granted}%.3f").mkString(","),
      "setup.wall_s" -> f"${su.setup.wall}%.3f", "setup.granted" -> f"${su.setup.granted}%.3f")
    spark.stop()

    val triples = ref.triples.toDouble
    // the JIT is still warming up through the first half of the window:
    // conversions keep getting faster, so only the later half is reported
    val warm = times.drop(times.length / 2).toSeq
    Outcome(Seq(
      Metric("convert_s", "s", warm.map(_.seconds)),
      Metric("triples_per_s", "triples/s", warm.map(triples / _.seconds)),
      Metric("setup_s", "s", Seq(su.setup.seconds)),
      Metric("out_bytes_per_triple", "B", bytes.map(_ / triples).toSeq),
      Metric("heap_peak_mb", "MiB", heaps.toSeq)),
      attempted, failures.length, failures, host)
  }

  /** Traced run. Each round times the plan prefixes (1) docs → noop,
    * (2) `Pipeline.run(docs).triples.select("doc_id")` → noop, where the
    * fused loop runs in full and the decode is pruned, (3)
    * `Pipeline.run(docs).triples` → noop, (4) the full conversion under
    * the [[Recorder]] listener, and (5) `TableIO.write` of the
    * already-materialized triples; layers are differences of prefixes. */
  def trace(w: Workload, seed: Long, windowS: Double, layout: Layout, cores: Int): Outcome = {
    val su = setup(w, seed, layout, cores)
    implicit val spark: SparkSession = su.spark
    val staged = layout.staged(w, seed)
    val ref = Workload.reference(w, staged)
    val hostWatch = new HostWatch(cores)
    val recorder = new Recorder(spark.sparkContext)
    val base = Workload.baseURI(w)
    def docs = Workload.inputDocs(w, staged)
    val samples = scala.collection.mutable.HashMap[String, ArrayBuffer[Double]]()
    def add(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer()) += v
    add("schema.dict_load_s", su.dictLoadS)

    val (attempted, failures) = closedLoop(su, ref, w, windowS) { () =>
      // every prefix builds its input inside its timer, as (4) does
      val scan = seconds(noop(docs.toDF))
      val fused = seconds(noop(Pipeline.run(docs, base).triples.select("doc_id")))
      var decoded: Pipeline.Result = null
      val decode = seconds { decoded = Pipeline.run(docs, base); noop(decoded.triples) }
      val counts = lineageCounts(decoded)
      val converted = checkedConversion(w, staged, layout.out("trace"), ref, Some(recorder), _ => ()) { out =>
        add("sinks.bytes", Workload.dataFiles(out).map(Files.size).sum.toDouble)
        add("sinks.files", Workload.dataFiles(out).length.toDouble)
      }
      val materialized = Pipeline.run(docs, base).triples.persist(StorageLevel.MEMORY_AND_DISK)
      materialized.count()
      val sinkOut = layout.out("sink")
      Workload.deleteTree(sinkOut)
      val sink = seconds(TableIO.write(materialized, sinkOut.toString))
      materialized.unpersist(blocking = true)
      Workload.deleteTree(sinkOut)
      converted.map { c =>
        val tr = c.trace.get
        add("sources.scan_s", scan)
        add("operators.fused_s", fused - scan)
        add("operators.decode_s", decode - fused)
        counts.foreach { case (k, v) => add(k, v) }
        add("operators.dedup_keep", counts("operators.triples") / counts("operators.candidates"))
        add("sinks.parquet_s", sink)
        add("cli.sink_s", c.seconds - decode)
        add("trace.convert_s", c.seconds)
        add("sources.input_passes", tr.inputPasses)
        tr.fusedStage.foreach(s => add("operators.task_skew", s.skew))
        tr.sinkStage.foreach { s => add("sinks.tasks", s.tasks.toDouble); add("sinks.task_skew", s.skew) }
        add("shuffle.bytes", tr.shuffleBytes.toDouble)
        add("shuffle.records", tr.shuffleRecords.toDouble)
        add("shuffle.write_s", tr.shuffleWriteS)
        add("shuffle.fetch_wait_s", tr.fetchWaitS)
        add("shuffle.spill_bytes", tr.spillBytes.toDouble)
        add("cli.driver_s", (tr.firstJobMs - c.callMs) / 1e3)
        add("spark.cpu_s", tr.cpuS)
        add("jvm.gc_s", tr.gcS)
        add("spark.cpu_util", tr.cpuS / (c.seconds * cores))
        add("spark.jobs", tr.jobs.toDouble)
        add("spark.tasks", tr.tasks.toDouble)
      }.left.toOption
    }
    recorder.detach()
    val host = confRecord(spark, cores) ++ hostWatch.record()
    spark.stop()
    Outcome(PerLayer.map { case (n, u) => Metric(n, u, samples.get(n).map(_.toSeq).getOrElse(Nil)) },
      attempted, failures.length, failures, host)
  }

  /** sums of the fused stage's lineage rows F1–F4 */
  private def lineageCounts(r: Pipeline.Result)(implicit spark: SparkSession): Map[String, Double] = {
    val rows = r.lineage.collect()
    def total(stage: String, col: String): Double =
      rows.filter(_.getAs[String]("stage") == stage).map(_.getAs[Long](col)).sum.toDouble
    Map(
      "operators.stmts" -> total("F1_tokenize", "rows_out"),
      "operators.candidates" -> total("F4_dedup", "rows_in"),
      "operators.triples" -> total("F4_dedup", "rows_out"),
      "operators.markers" -> total("F3_emit", "errors"))
  }
}
