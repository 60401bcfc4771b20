package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private lazy val declared: JsonNode = {
    val p = Seq("../BENCHMARK.json", "BENCHMARK.json").map(Paths.get(_))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(Files.readAllBytes(p))
  }

  private def defs(key: String): Seq[Metrics.Def] =
    declared.get(key).elements().asScala.map(n => Metrics.Def(
      n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq

  test("the names, units and directions in BENCHMARK.json are the printed ones") {
    assert(defs("end_to_end") == Metrics.EndToEnd)
    assert(defs("per_layer") == Metrics.PerLayer)
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workload.Names)
  }

  test("every metric name is declared once and within the length limits") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_.name)
    assert(names.distinct == names)
    assert(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")))
    assert(Metrics.PerLayer.length <= 128)
  }

  test("warm-up ends only once pass times stop falling") {
    // a fresh JVM's curve: still falling by more than 5 % until the fifth pass
    val walls = Seq(9.3, 8.6, 7.1, 5.9, 5.7, 5.5)
    assert((1 to 4).forall(n => !Main.settled(walls.take(n))))
    assert(Main.settled(walls.take(5)) && Main.settled(walls))
    assert(!Main.settled(Seq(5.0, 5.0)), "fewer than the minimum passes never settle")
    assert(Main.settled(Seq(8.2, 7.2, 7.0)), "a pass within 5 % of the best before it")
  }
}
