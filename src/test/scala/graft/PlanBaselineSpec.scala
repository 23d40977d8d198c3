package graft

import org.scalatest.funsuite.AnyFunSuite

/** Codec + drift semantics of the full-catalog plan baseline — the
  * machinery Bench uses to make a plan regression anywhere in the
  * catalog loud in-artifact (the artifact carries only the drift, which
  * is empty on a clean run).
  */
class PlanBaselineSpec extends AnyFunSuite {

  test("render/parse roundtrip is exact and sorted") {
    val m = Map("q_b" -> "11223344", "q_a" -> "aabbccdd")
    val json = PlanBaseline.render(m)
    assert(json === """{"q_a":"aabbccdd","q_b":"11223344"}""")
    assert(PlanBaseline.parse(json) === m)
    assert(PlanBaseline.parse("{}") === Map.empty)
  }

  test("drift = changed fingerprints only; new and retired names are not drift") {
    val base = Map("q_a" -> "aaaa", "q_b" -> "bbbb", "q_gone" -> "gggg")
    val cur = Map("q_a" -> "aaaa", "q_b" -> "CHANGED", "q_new" -> "nnnn")
    assert(PlanBaseline.drift(cur, base) === Map("q_b" -> "CHANGED"))
    assert(PlanBaseline.drift(cur, Map.empty) === Map.empty)
  }

  test("unstable = entries whose iterations disagree, with their distinct " +
      "fingerprints in first-seen order") {
    val perIter = Map(
      "q_same" -> Seq("aaaa", "aaaa", "aaaa"),
      "q_once" -> Seq("bbbb"),
      "q_flip" -> Seq("c1", "c2", "c1"))
    assert(PlanBaseline.unstable(perIter) === Map("q_flip" -> Seq("c1", "c2")))
    assert(PlanBaseline.unstable(Map.empty) === Map.empty)
  }

  test("load/write roundtrip through a file; missing file loads empty") {
    // no Spark here, so no session scratch root: the spec owns its dir
    val dir = java.nio.file.Files.createTempDirectory("graft_planbase")
    try {
      val path = dir.resolve("sub/plans.json").toString
      assert(PlanBaseline.load(path) === Map.empty)
      val m = Map("q_x" -> "0f0f0f0f", "q_y" -> "12345678")
      PlanBaseline.write(path, m)
      assert(PlanBaseline.load(path) === m)
    } finally Session.deleteRecursively(dir)
  }
}
