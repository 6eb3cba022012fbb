package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metrics a run prints are exactly the ones `BENCHMARK.json` (at the
  * root of the checkout) declares, with the same units. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val root = new ObjectMapper().readTree(
    new java.io.File("../BENCHMARK.json"))

  private def entries(key: String): Seq[(String, String, String)] =
    root.get(key).elements().asScala.map(m => (m.get("name").asText,
      m.get("unit").asText, m.get("better").asText)).toSeq

  test("per-layer metrics match Layers.All") {
    assert(entries("per_layer") == Layers.All)
  }

  test("end-to-end metrics match Main.EndToEnd") {
    assert(entries("end_to_end").map(e => (e._1, e._2)) == Main.EndToEnd)
  }

  test("workloads match Main.Workloads") {
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText)
      .toSet == Main.Workloads.keySet)
  }
}
