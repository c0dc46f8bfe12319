package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  /** (name, unit) of each metric in one section of BENCHMARK.json. */
  private def declared(section: String, next: Option[String]): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json =
      try src.mkString
      finally src.close()
    val from = json.indexOf(s""""$section"""")
    val body = next.fold(json.substring(from))(n => json.substring(from, json.indexOf(s""""$n"""")))
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
  }

  test("the run emits exactly the metrics BENCHMARK.json declares, with their units") {
    assert(declared("end_to_end", Some("per_layer")) == Main.EndToEnd)
    assert(declared("per_layer", None) == Main.PerLayer)
  }

  test("workload names match BENCHMARK.json") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json =
      try src.mkString
      finally src.close()
    val names = """"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(names == Main.Workloads)
  }
}
