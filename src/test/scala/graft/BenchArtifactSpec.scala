package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact-contract invariants (round-11 verdict item 2 + advice):
  * the splice guard must reject truncated or unbalanced scaling blobs,
  * and the FINAL stdout line must stay small enough for the driver's
  * ~2000-byte tail window — which means it may never embed the scaling
  * JSON itself.
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("jsonBalanced accepts real JSON including braces inside strings") {
    assert(Bench.jsonBalanced("""{}"""))
    assert(Bench.jsonBalanced("""{"a":[1,2,{"b":"}"}],"c":"{\" [","d":{}}"""))
    assert(Bench.jsonBalanced("""{"notes":"x167 1.28 -> 0.07 {re-plan}"}"""))
  }

  test("jsonBalanced rejects truncation, over-closing, and unterminated strings") {
    assert(!Bench.jsonBalanced("""{"a":{"b":1}"""))   // truncated
    assert(!Bench.jsonBalanced("""{"a":1}}"""))       // over-closed
    assert(!Bench.jsonBalanced("""{"a":"unterminated}""")) // open string
    assert(!Bench.jsonBalanced("""{"a":[1,2}"""))     // still open bracket
  }

  test("bench_full rows carry per-query loadavg + the clean gate (r12 verdict item 2)") {
    // rounds 11-12 lost per-query regression triage to co-tenant noise
    // invisible in the artifact; the full artifact must carry a loadavg
    // per query row and a clean_bench verdict gated on the threshold
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    val fullLine = src.split("\n").find(_.contains("\"n_queries\":"))
      .getOrElse(fail("bench_full template line not found"))
    assert(fullLine.contains("\"loadavg\":$loadJson"),
      "bench_full must embed the per-query loadavg map")
    assert(fullLine.contains("\"clean_bench\":$cleanBench"),
      "bench_full must carry the clean gate verdict")
    assert(fullLine.contains("\"clean_loadavg_threshold\":"),
      "the gate's threshold must be recorded next to its verdict")
  }

  test("a filtered run never writes bench_full.json") {
    assert(Bench.artifactPath(filtered = true) != "bench_full.json",
      "a filtered run must never overwrite the full-suite artifact")
  }

  test("iso children report per-query loadavg and the artifact gates on it (r13 verdict item 4)") {
    // the r13 watch item: x99's ISOLATED number moved 10.97 -> 14.39s
    // with zero commits because the iso children also ran under suite
    // load. The child line must carry an isolated_load map and the
    // artifact an isolated_clean verdict bound to the same threshold as
    // clean_bench.
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    assert(src.contains("\"isolated_load\":{$loads}"),
      "isolated child must emit its per-query max loadavg")
    val fullLine = src.split("\n").find(_.contains("\"n_queries\":"))
      .getOrElse(fail("bench_full template line not found"))
    assert(fullLine.contains("\"isolated_load\":$isoLoadJson"),
      "bench_full must embed the per-iso-child loadavg map")
    assert(fullLine.contains("\"isolated_clean\":$isolatedClean"),
      "bench_full must carry the iso clean gate")
    assert(src.contains("l.values.forall(v => v >= 0.0 && v <= cleanThresh)"),
      "the iso gate must bind to the same clean threshold")
  }

  test("the final compact line never embeds the scaling blob (BENCH_r11 regression)") {
    // the shipped source must reference the pointer form in the last
    // println; a verbatim $scalingJson there is exactly the bug that
    // nulled the round-11 driver parse
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/Bench.scala", "UTF-8").mkString
    val finalLine = src.split("\n").filter(_.contains("println")).last
    assert(!finalLine.contains("$scalingJson"),
      "final stdout line must carry a pointer, not the scaling blob")
    assert(finalLine.contains("sf1_scaling"),
      "final line still names where the scaling section lives")
  }
}
