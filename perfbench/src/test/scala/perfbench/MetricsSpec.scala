package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the metrics the runs print must agree. */
class MetricsSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(
    new File(new File(sys.props("user.dir")).getParentFile, "BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    json.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match") { assert(listed("end_to_end") == Metrics.endToEnd) }

  test("per-layer metrics match") { assert(listed("per_layer") == Metrics.perLayer) }

  test("workloads match") {
    val names = json.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
    assert(names == Seq("pipe", "board", "tables"))
    names.foreach(n => assert(Main.workload(n).name == n))
  }
}
