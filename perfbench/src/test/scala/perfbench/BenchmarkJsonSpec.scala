package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The metrics a run prints are the ones BENCHMARK.json declares. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val declared: Seq[(String, String)] = {
    val text = Files.readString(Paths.get("..", "BENCHMARK.json"))
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("BENCHMARK.json declares exactly the metrics and units a run reports") {
    assert(declared == Main.endToEnd ++ Main.perLayer)
  }

  test("BENCHMARK.json names the workloads the runner knows") {
    val text = Files.readString(Paths.get("..", "BENCHMARK.json"))
    val names = """"name":\s*"([^"]+)",\s*"why"""".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(names == Workload.names)
  }
}
