package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import graft.Bench._

/** Bench's result document as a pure function of canned results. */
class BenchSpec extends AnyFunSuite {

  private val shape = Shape(nproc = 4, memTotalMB = 16000, low = 1, cores = 1,
    heapMB = 896)
  private def quiet(wall: Double) = Stamp(wall, load1 = 0.3, nproc = 4,
    hostCores = 3.0, ownCores = 2.9, stealCores = 0.0)
  // 1.5 cores of other processes on a 4-core host
  private def busy(wall: Double) = quiet(wall).copy(hostCores = 4.0, ownCores = 2.5)
  private def pass(k: Int) =
    QueryPass(headline.zipWithIndex.map { case (q, i) => q -> (i + 1.0 + k) }.toMap,
      quiet(100.0))
  private val passes = Seq(pass(2), pass(0), pass(1))
  private val l1 = Level(1, 100.0, 80000, 5000, quiet(100.0))
  private val l4 = Level(4, 30.0, 80000, 5000, quiet(30.0))
  private def run(levels: Seq[Level]) = Run("sfdir", shape, passes, Map.empty,
    levels, Map.empty, finished = true, aborted = None)
  private def parse(r: Run): JsonNode = new ObjectMapper().readTree(buildJson(r))

  private def fields(n: JsonNode): Set[String] = {
    val it = n.fieldNames()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
  }

  test("complete pair: contract keys, per-query min/median/spread, this_run pair") {
    val j = parse(run(Seq(l4, l1)))
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("sf").asText == "sfdir")
    assert(j.get("complete").asBoolean)
    assert(fields(j.get("queries")) == headline.toSet)
    headline.zipWithIndex.foreach { case (q, i) =>
      assert(j.get("queries").get(q).asDouble == i + 1.0)
      val st = j.get("queries_stats").get(q)
      assert(st.get("median").asDouble == i + 2.0)
      assert(st.get("spread").asDouble == 2.0)
      assert(st.get("runs").asInt == Passes)
    }
    assert(j.get("value").asDouble == headline.indices.map(_ + 1.0).sum)
    assert(j.get("queries_passes").size == Passes)

    val kb = j.get("kb_pipeline")
    assert(kb.get("docs").asLong == 80000 && kb.get("triples").asLong == 5000)
    assert(kb.get("triples_check_equal").asBoolean)
    assert(kb.get("mode").asText == "jvms" && kb.get("replicate").asInt == Replicate)
    assert(fields(kb.get("levels")) == Set("executors1", "executors4"))
    assert(kb.get("levels").get("executors1").get("sec").asDouble == 100.0)
    assert(kb.get("levels").get("executors4").get("docs_per_sec").asDouble == 80000 / 30.0)
    val eff = (80000 / 30.0) / (4 * 800.0)
    assert(kb.get("scaling_pairs").get("eff_1_4").asDouble == eff)
    assert(kb.get("scaling_efficiency").asDouble == eff)
    assert(kb.get("scaling_provenance").asText == "this_run")
    // nothing but this run's own measurements and shape
    assert(fields(kb) == Set("docs", "triples", "triples_check_equal", "mode",
      "replicate", "levels", "scaling_pairs", "scaling_efficiency",
      "scaling_provenance", "host"))
    assert(fields(j) == Set("metric", "value", "unit", "queries", "queries_stats",
      "queries_passes", "sf", "complete", "kb_pipeline"))
    assert(buildJson(run(Seq(l4, l1))) == buildJson(run(Seq(l1, l4))))
  }

  test("contended level: reported with its stamp, no scaling_efficiency") {
    val j = parse(run(Seq(l1, l4.copy(stamp = busy(30.0)))))
    assert(j.get("complete").asBoolean)
    val kb = j.get("kb_pipeline")
    val host = kb.get("levels").get("executors4").get("host")
    assert(host.get("contended").asBoolean)
    assert(host.get("foreign_cores").asDouble == 1.5)
    assert(kb.get("levels").get("executors4").get("sec").asDouble == 30.0)
    assert(!kb.get("levels").get("executors1").get("contended").asBoolean)
    assert(!kb.has("scaling_efficiency"))
    assert(kb.get("scaling_pairs").size == 0)
    assert(kb.get("scaling_provenance").asText.startsWith("contended: executors4"))
  }

  test("missing level: complete false, no pair") {
    val failed = run(Seq(l1)).copy(failedLevels = Map(4 -> "SparkException: boom"))
    for (r <- Seq(run(Seq(l1)), failed,
                  run(Seq(l1, l4)).copy(finished = false, aborted = Some("wall_budget")))) {
      val j = parse(r)
      assert(!j.get("complete").asBoolean)
      val kb = j.get("kb_pipeline")
      if (r.levels.size == 1) {
        assert(!kb.has("scaling_efficiency"))
        assert(kb.get("scaling_pairs").size == 0)
        assert(kb.get("scaling_provenance").asText.startsWith("incomplete: executors4"))
        assert(fields(kb.get("levels")) == Set("executors1"))
      }
    }
    assert(parse(failed).get("kb_pipeline").get("failed_levels").get("executors4")
      .asText == "SparkException: boom")
    assert(parse(run(Seq(l1, l4)).copy(aborted = Some("wall_budget")))
      .get("aborted").asText == "wall_budget")
    // a query pass cut short leaves the table incomplete
    val short = run(Seq(l1, l4)).copy(passes = passes.take(2),
      running = Map("q1_agg" -> 0.5))
    val js = parse(short)
    assert(!js.get("complete").asBoolean)
    assert(js.get("queries").get("q1_agg").asDouble == 0.5)
  }

  test("shape derives from nproc and MemTotal") {
    assert(shapeFor(4, 16093) == Shape(4, 16093, 1, 1, 896))
    assert(shapeFor(32, 128000) == Shape(32, 128000, 1, 2, 5120))
    assert(shapeFor(2, 4000).heapMB == 512)
  }
}
