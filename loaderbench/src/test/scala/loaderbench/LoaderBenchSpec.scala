package loaderbench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Each workload at tiny size, through the same entry point the benchmark
  * command uses, plus the two injected faults: a failure must be counted
  * and must never leave a wall time behind.
  */
class LoaderBenchSpec extends AnyFunSuite {

  private def run(workload: String, trace: Boolean = false,
      inject: String = "none"): JsonNode = {
    val dir = Paths.get("work", s"test-$workload-$inject-$trace").toAbsolutePath
    val line = Main.run(Main.Args(workload, seed = 11L, seconds = 0.0, trace = trace,
      size = "tiny", inject = inject, work = dir.resolve("bench"),
      out = dir.resolve("out")))
    new ObjectMapper().readTree(line)
  }

  private def value(r: JsonNode, metric: String): Double =
    r.get("metrics").get(metric).get("value").asDouble

  private def has(r: JsonNode, metric: String): Boolean = r.get("metrics").has(metric)

  test("bulk at tiny size passes every output check") {
    val r = run("bulk")
    assert(r.get("correct").asBoolean, r.toString)
    assert(r.get("failed").asLong == 0L)
    for (m <- Seq("setup_s", "load_s", "replay_s", "refresh_s", "store_mb",
        "live_heap_mb")) assert(value(r, m) > 0.0, m)
    assert(value(r, "ok_frac") == 1.0)
  }

  test("dag_small at tiny size passes every output check, and its trace closes") {
    val r = run("dag_small", trace = true)
    assert(r.get("correct").asBoolean, r.toString)
    for (p <- Main.Passes) {
      assert(value(r, s"$p.trace.closure") >= 0.9, p)
      assert(value(r, s"$p.store.calls") > 0.0, p)
    }
    assert(value(r, "replay.store.layers_written") == 0.0)
    assert(value(r, "replay.store.created") == 0.0)
    assert(value(r, "load.store.created") > 0.0)
    assert(value(r, "trace.overhead") > 0.0)
  }

  test("a loader that throws is counted as failed and leaves no wall time") {
    val r = run("bulk", inject = "throw")
    assert(!r.get("correct").asBoolean)
    assert(r.get("failed").asLong >= 1L)
    assert(value(r, "ok_frac") < 1.0)
    for (p <- Main.Passes) assert(!has(r, s"${p}_s"), p)
  }

  test("a replay that creates rows is counted as failed and leaves no wall time") {
    val r = run("bulk", inject = "replay-creates")
    assert(!r.get("correct").asBoolean)
    assert(r.get("failed").asLong >= 1L)
    assert(value(r, "ok_frac") < 1.0)
    assert(has(r, "load_s"))
    assert(!has(r, "replay_s") && !has(r, "refresh_s"))
  }

  test("covered measures the union of intervals inside a window") {
    assert(Layers.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)
    assert(Layers.covered(Seq((5L, 8L), (0L, 3L)), 2L, 6L) == 2L)
    assert(Layers.covered(Nil, 0L, 10L) == 0L)
  }
}
