package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PlanAudit's section mode: [[PlanAudit.splice]] replaces only the
  * named sections' bodies, and [[PlanAudit.mask]] makes the per-run
  * tokens stable. */
class PlanAuditSpec extends AnyFunSuite {

  private def sec(name: String, body: String) =
    s"\n================ $name ================\n$body\n"
  private val doc = "# PLANS\n\nGenerated at x.\n" +
    sec("q1_agg", "== Physical Plan ==\nA\n") +
    sec("q1_agg_wide", "== Physical Plan ==\nB\n") +
    sec("d2_jaccard_pairs", "== Physical Plan ==\nC\n")

  test("splice replaces only the named sections, every other byte stays") {
    val out = PlanAudit.splice(doc, Seq(
      "q1_agg" -> "== Physical Plan ==\nA2\n\n",
      "d2_jaccard_pairs" -> "== Physical Plan ==\nC2\n\n"))
    assert(out == "# PLANS\n\nGenerated at x.\n" +
      sec("q1_agg", "== Physical Plan ==\nA2\n") +
      sec("q1_agg_wide", "== Physical Plan ==\nB\n") +
      sec("d2_jaccard_pairs", "== Physical Plan ==\nC2\n"))
    // re-splicing a section's own body is the identity
    assert(PlanAudit.splice(doc,
      Seq("q1_agg_wide" -> "== Physical Plan ==\nB\n\n")) == doc)
  }

  test("splice refuses a name with no section") {
    intercept[IllegalArgumentException](
      PlanAudit.splice(doc, Seq("q9_missing" -> "x\n")))
  }

  test("mask replaces array identity hashes and the index temp root") {
    val plan = "Filter [[D@2eb6e166, [I@43b1fdb7, [Z@7bdbf06f, " +
      "[Ljava.lang.String;@1a2b]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft-ix14562348711572355841" +
      "/6d2d3a63561a1ac81f09b5ff9f99735c/ivf/assigned]\n" +
      "Scan [D@ no hash, graft-ix root"
    assert(PlanAudit.mask(plan) ==
      "Filter [[D@<hash>, [I@<hash>, [Z@<hash>, " +
      "[Ljava.lang.String;@<hash>]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft-ix<root>" +
      "/6d2d3a63561a1ac81f09b5ff9f99735c/ivf/assigned]\n" +
      "Scan [D@ no hash, graft-ix root")
    assert(PlanAudit.mask(PlanAudit.mask(plan)) == PlanAudit.mask(plan))
  }
}
