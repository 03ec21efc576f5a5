package graft.convbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's own checks, on unit-test sized inputs. */
class ConvBenchSpec extends AnyFunSuite {

  private val layout = ConvBench.Layout(Paths.get("target", "test-work").toAbsolutePath)
  private val cores = 2
  private val json = new ObjectMapper()
  private def tiny(name: String) = Workload.tiny(Workload.named(name))

  /** stage as run.py does, before any set-up */
  private def staged(w: Workload): Workload = {
    Workload.stage(w, 1L, layout.staged(w, 1L))
    w
  }

  /** name → unit of one metric list of BENCHMARK.json */
  private def registered(list: String): Seq[(String, String)] =
    json.readTree(Paths.get("..", "BENCHMARK.json").toFile).get(list).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def resultOf(w: Workload, o: ConvBench.Outcome): (Seq[String], JsonNode) = {
    val lines = Main.report(w, 1L, o)
    (lines.init, json.readTree(lines.last))
  }

  test("every registered metric is printed with its unit for every workload") {
    assert(ConvBench.EndToEnd == registered("end_to_end"))
    assert(ConvBench.PerLayer == registered("per_layer"))
    for (name <- Workload.All.map(_.name); traced <- Seq(false, true)) {
      val w = staged(tiny(name))
      val o =
        if (traced) ConvBench.trace(w, 1L, 0, layout, cores)
        else ConvBench.measure(w, 1L, 0, layout, cores)
      val (table, result) = resultOf(w, o)
      val expected = if (traced) ConvBench.PerLayer else ConvBench.EndToEnd
      assert(result.get("correct").asBoolean, s"$name traced=$traced: ${o.failures}")
      assert(result.get("attempted").asInt == 2 && result.get("failed").asInt == 0)
      val metrics = result.get("metrics")
      assert(metrics.fieldNames().asScala.toSeq == expected.map(_._1))
      expected.foreach { case (metric, unit) =>
        assert(metrics.get(metric).get("unit").asText == unit)
        assert(table.exists(l => l.contains(metric) && l.matches(s".* \\Q$unit\\E \\((median|min|max) of n=.*")),
          s"$metric is not printed with its unit and sample count")
      }
    }
  }

  test("a deleted parquet part file is a failed conversion, never a timing") {
    val w = staged(tiny("uniform"))
    val o = ConvBench.measure(w, 1L, 0, layout, cores,
      tamper = out => Files.delete(Workload.dataFiles(out).head))
    assert(o.attempted == 2 && o.failed == 1, o.failures)
    assert(o.failures.head.startsWith("output"))
    assert(o.metrics.find(_.name == "convert_s").get.samples.isEmpty)
    assert(!resultOf(w, o)._2.get("correct").asBoolean)
  }

  test("a truncated .ttl is a failed conversion, never a timing") {
    val w = staged(tiny("cli_ttl"))
    val o = ConvBench.measure(w, 1L, 0, layout, cores, tamper = { out =>
      val f = Workload.dataFiles(out).head
      val bytes = Files.readAllBytes(f)
      Files.write(f, bytes.take(bytes.length / 2))
    })
    assert(o.attempted == 2 && o.failed == 1, o.failures)
    assert(o.failures.head.contains("triples, reference"))
    assert(o.metrics.find(_.name == "convert_s").get.samples.isEmpty)
    assert(!resultOf(w, o)._2.get("correct").asBoolean)
  }

  test("the .ttl check wants exactly one file per document and no leftovers") {
    val dir = Files.createTempDirectory(Files.createDirectories(layout.work), "ttl")
    try {
      val ttl = "@prefix inst: <http://x/> .\n\ninst:a inst:p inst:b .\ninst:a inst:p \"x\" .\n"
      Files.writeString(dir.resolve("doc-0.ttl"), ttl)
      assert(Workload.checkTtl(dir, Map("doc-0.ttl" -> 2L)).isEmpty)
      assert(Workload.checkTtl(dir, Map("doc-0.ttl" -> 3L)).nonEmpty)
      assert(Workload.checkTtl(dir, Map("doc-0.ttl" -> 2L, "doc-1.ttl" -> 1L)).nonEmpty)
      Files.writeString(dir.resolve("doc-0.ttl.inprogress-7"), ttl)
      assert(Workload.checkTtl(dir, Map("doc-0.ttl" -> 2L)).exists(_.contains("unexpected")))
    } finally Workload.deleteTree(dir)
  }

  test("operators.* counts repeat exactly from run to run") {
    val w = staged(tiny("skewed"))
    def counts(): Map[String, Seq[Double]] =
      ConvBench.trace(w, 1L, 0, layout, cores).metrics.collect {
        case m if m.name.startsWith("operators.") && !m.name.endsWith("_s") && m.name != "operators.task_skew" =>
          m.name -> m.samples
      }.toMap
    val first = counts()
    assert(first.keySet == Set("operators.stmts", "operators.candidates", "operators.triples",
      "operators.markers", "operators.dedup_keep"))
    assert(first("operators.markers") == Seq(0.0))
    assert(first("operators.triples").head > 0)
    assert(counts() == first)
  }
}
