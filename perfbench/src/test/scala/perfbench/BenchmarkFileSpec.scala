package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json names the metrics the runs print; keep the two equal. */
class BenchmarkFileSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def metrics(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("per_layer lists exactly the metrics a traced run prints") {
    assert(metrics("per_layer") == Layers.PerLayer)
  }

  test("end_to_end lists exactly the metrics an untraced run prints") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("workloads are the ones Main runs") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }
}
