package graft

import org.scalatest.funsuite.AnyFunSuite

/** The automated co-tenancy verdict (VERDICT r5 task 6): Bench emits the
  * per-query delta distribution vs the previous committed BENCH_r{N}.json
  * and classifies it flat-vs-concentrated, so the README's manual reading
  * rule ("co-tenancy is a uniform offset, a real regression is
  * concentrated") is a recorded computation in the bench JSON. */
class BenchDeltaSpec extends AnyFunSuite {

  private def write(dir: java.io.File, name: String, body: String): Unit = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    ()
  }

  private def tmpDir(): java.io.File =
    java.nio.file.Files.createTempDirectory("bench-delta").toFile

  test("previousBench picks the highest round and parses its queries") {
    val d = tmpDir()
    write(d, "BENCH_r02.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1":2.0,"q2":7.0},"sf":"x"}""")
    write(d, "BENCH_r10.json",
      """{"metric":"total","value":3.5,"unit":"sec","failed":0,"queries":{"q1":1.5,"q2":2.0},"sf":"x"}""")
    write(d, "BENCH_notes.txt", "not a bench")
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r10.json") // r10 > r2 numerically, not lexically
    assert(qs == Map("q1" -> 1.5, "q2" -> 2.0))
    // top-level fields (value/failed) must NOT leak into the query map
    assert(!qs.contains("value") && !qs.contains("failed"))
    assert(Bench.previousBench(tmpDir()).isEmpty)
  }

  test("previousBench parses the driver's escaped-tail wrapper format") {
    val d = tmpDir()
    // the real shape: the bench line lives ESCAPED inside "tail"
    write(d, "BENCH_r05.json",
      """{
        |  "n": 5,
        |  "rc": 0,
        |  "cpus": 32,
        |  "sf": 0.1,
        |  "tail": "noise\n[info] {\"metric\":\"total\",\"value\":49.7,\"unit\":\"sec\",\"failed\":0,\"runs\":3,\"queries\":{\"q1_agg\":0.78,\"q2_filter\":0.3},\"sf\":\"/x\"}\n"
        |}""".stripMargin)
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r05.json")
    assert(qs == Map("q1_agg" -> 0.78, "q2_filter" -> 0.3))
  }

  test("previousBench salvages a tail cut past the queries marker (r7 shape)") {
    val d = tmpDir()
    write(d, "BENCH_r06.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1_agg":2.0},"sf":"x"}""")
    // r7's failure shape: the tail starts MID-OBJECT — the "queries":{
    // prefix is gone but the per-query pairs themselves survive; their
    // key shape (x9_name: number) is unmistakable vs wrapper scalars
    val pairs = (1 to 12).map(i => s"""\\"q${i}_name$i\\":0.$i""").mkString(",")
    write(d, "BENCH_r07.json",
      s"""{"n":7,"rc":0,"tail":"461,$pairs,\\"delta_median\\":0.5},\\"sf\\":\\"/x\\"}\\n"}""")
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r07.json", "salvageable newest file must win")
    assert(qs.size == 12 && qs("q1_name1") == 0.1 && qs("q12_name12") == 0.12)
    assert(!qs.contains("delta_median"))
  }

  test("previousBench salvages the 1dp-reversed line when the final " +
      "line's inline map is legitimately empty (the 93+-query shape)") {
    val d = tmpDir()
    write(d, "BENCH_r10.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1_agg":2.0,"q2_filter":1.0},"sf":"x"}""")
    // r12+ shape: the battery outgrew the final line, so it carries
    // "queries":{} EMPTY and the medians live on the 1dp-reversed line
    // just above — matching the empty inline map must FALL THROUGH to
    // salvage, not slide the baseline back to r10
    val pairs = (1 to 15).map(i => s"""\\"x${i}_q$i\\":1.$i""").mkString(",")
    write(d, "BENCH_r15.json",
      s"""{
         |  "n": 15,
         |  "tail": "{\\"queries_1dp_reversed\\":{$pairs}}\\n{\\"metric\\":\\"total\\",\\"value\\":256.8,\\"unit\\":\\"sec\\",\\"failed\\":0,\\"runs\\":3,\\"queries\\":{},\\"sf\\":\\"/x\\"}\\n"
         |}""".stripMargin)
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r15.json",
      s"empty inline map slid the baseline to $name")
    assert(qs.size == 15 && qs("x1_q1") == 1.1 && qs("x15_q15") == 1.15)
  }

  test("previousBench skips an unparseable newest file for an older complete one") {
    val d = tmpDir()
    write(d, "BENCH_r05.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1":2.0},"sf":"x"}""")
    // the r6 failure shape: the driver's tail capture truncated the line
    // BEFORE "queries":{ — mid-object, no parseable query map
    write(d, "BENCH_r06.json",
      """{"n":6,"rc":0,"tail":"_bruteforce\":0.93,\"a2\":1.25},\"sf\":\"/x\"}\n"}""")
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r05.json")
    assert(qs == Map("q1" -> 2.0))
  }

  test("salvage rejects wrapper-shaped keys and survives pseudo-numbers (ADVICE r8)") {
    val d = tmpDir()
    write(d, "BENCH_r05.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1":2.0},"sf":"x"}""")
    // tail cut past the marker; wrapper fields shaped like total_len /
    // wall_clock have NO digit before the underscore and must not join
    // the query map; a version-ish pseudo-number (1.2.3) must not abort
    // parsing of the whole file
    val pairs = (1 to 12).map(i => s"""\\"q${i}_name$i\\":0.$i""").mkString(",")
    write(d, "BENCH_r07.json",
      s"""{"n":7,"tail":"9,\\"total_len\\":42,\\"wall_clock\\":7.5,$pairs,\\"v_tag\\":1.2.3}\\n"}""")
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r07.json")
    assert(qs.size == 12, s"wrapper keys leaked: ${qs.keys}")
    assert(!qs.contains("total_len") && !qs.contains("wall_clock") && !qs.contains("v_tag"))
  }

  test("previousBench survives an unreadable newest file (ADVICE r8)") {
    val d = tmpDir()
    write(d, "BENCH_r05.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1":2.0},"sf":"x"}""")
    // a newest file that is a DIRECTORY (read throws) must degrade to
    // the older complete file instead of aborting discovery
    assert(new java.io.File(d, "BENCH_r09.json").mkdir())
    val (name, qs) = Bench.previousBench(d).get
    assert(name == "BENCH_r05.json")
    assert(qs == Map("q1" -> 2.0))
  }

  test("ms renders millisecond precision, strips zeros, keeps the -1 sentinel") {
    assert(Bench.ms(1.330260085) == "1.33")
    assert(Bench.ms(0.802309242) == "0.802")
    assert(Bench.ms(2.0) == "2.0")
    assert(Bench.ms(0.0004) == "0.0") // sub-ms rounds to zero, stays a number
    assert(Bench.ms(-1.0) == "-1")
    assert(Bench.ms(61.87654) == "61.877")
  }

  test("uniform offset classifies flat; single-query spike concentrated") {
    val prev = Some("BENCH_r05.json" ->
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0))
    // all queries +0.21 s — the measured co-tenancy shape
    val flat = Bench.deltaJson(
      Seq("a" -> 1.21, "b" -> 2.21, "c" -> 3.21, "d" -> 4.21), prev)
    assert(flat.contains(""""delta_verdict":"flat""""))
    assert(flat.contains(""""delta_median":0.21"""))
    assert(flat.contains(""""delta_prev":"BENCH_r05.json""""))
    // one query +2 s, the rest flat — a real regression's shape
    val conc = Bench.deltaJson(
      Seq("a" -> 1.0, "b" -> 2.0, "c" -> 5.0, "d" -> 4.0), prev)
    assert(conc.contains(""""delta_verdict":"concentrated""""))
    assert(conc.contains(""""delta_max_query":"c""""))
    assert(conc.contains(""""delta_max":2.0"""))
    // a uniform IMPROVEMENT is also flat (negative median, no spike)
    val faster = Bench.deltaJson(
      Seq("a" -> 0.8, "b" -> 1.8, "c" -> 2.8, "d" -> 3.8), prev)
    assert(faster.contains(""""delta_verdict":"flat""""))
    // sub-threshold spike (< 0.5 s absolute) stays flat: fork-to-fork
    // swing is documented at <=0.6 s, so small spikes are noise
    val noise = Bench.deltaJson(
      Seq("a" -> 1.3, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0), prev)
    assert(noise.contains(""""delta_verdict":"flat""""))
  }

  test("failed and novel queries are excluded; missing prev is explicit") {
    val prev = Some("BENCH_r05.json" -> Map("a" -> 1.0, "b" -> 2.0))
    // 'a' failed this round (-1), 'new' has no previous sample — deltas
    // must come from 'b' alone
    val j = Bench.deltaJson(
      Seq("a" -> -1.0, "b" -> 2.5, "new" -> 9.9), prev)
    assert(j.contains(""""delta_median":0.5"""))
    assert(j.contains(""""delta_max_query":"b""""))
    assert(Bench.deltaJson(Seq("a" -> 1.0), None)
      .contains(""""delta_verdict":"no-previous-bench""""))
    assert(Bench.deltaJson(Seq("x" -> 1.0), prev)
      .contains(""""delta_verdict":"no-common-queries""""))
  }

  test("excessVerdict (the shared channel rule): uniform offset flat, " +
      "dominant material spike concentrated") {
    val (flat, _, _, _) = Bench.excessVerdict(
      Seq("a" -> 0.3, "b" -> 0.3, "c" -> 0.3))
    assert(flat == "flat")
    val (conc, mq, mx, _) = Bench.excessVerdict(
      Seq("a" -> 0.0, "b" -> 0.1, "c" -> 3.0, "d" -> -0.1))
    assert(conc == "concentrated" && mq == "c" && mx > 2.0)
    // material but not dominant (two equal spikes) stays flat
    val (two, _, _, _) = Bench.excessVerdict(
      Seq("a" -> 0.0, "b" -> 2.0, "c" -> 2.0, "d" -> 0.0))
    assert(two == "flat")
  }

  test("deltaJson's verdict, concentration and max query are excessVerdict's") {
    def field(json: String, k: String): String =
      (s""""$k":"?([^",]+)"?""").r.findFirstMatchIn(json).get.group(1)
    val prevQ = Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0)
    Seq(
      Seq("a" -> 0.21, "b" -> 0.21, "c" -> 0.21, "d" -> 0.21), // uniform
      Seq("a" -> 0.0, "b" -> 0.1, "c" -> 3.0, "d" -> -0.1), // one spike
      Seq("a" -> 0.0, "b" -> 2.0, "c" -> 2.0, "d" -> 0.0), // two spikes
      Seq("a" -> 0.3, "b" -> 1.9, "c" -> -0.4, "d" -> 0.9) // mixed
    ).foreach { deltas =>
      val results = deltas.map { case (n, d) => n -> (prevQ(n) + d) }
      val json = Bench.deltaJson(results, Some("BENCH_r05.json" -> prevQ))
      // the deltas as deltaJson sees them (now - prev), float for float
      val (v, mq, _, conc) = Bench.excessVerdict(
        results.map { case (n, x) => n -> (x - prevQ(n)) })
      assert(field(json, "delta_verdict") == v, json)
      assert(field(json, "delta_max_query") == mq, json)
      assert(field(json, "delta_concentration").toDouble ==
        math.rint(conc * 10000) / 10000, json)
    }
  }

  test("provisions: the 26 persisted-index builds, unique, in build order") {
    assert(Bench.provisions.map(_._1) == Seq(
      "bm25", "ivf", "minhash", "components", "containment",
      "jaccard-index", "char-jaccard-index", "simhash-index", "edit-index",
      "stream-bm25", "stream-semantic", "stream-volume", "tfidf",
      "semantic-lsh", "stream-semantic-lsh", "stream-hourly",
      "stream-neardup", "stream-kmv", "stream-quant", "stream-cms",
      "stream-bloom", "stream-sessions", "stream-hll", "stream-funnel",
      "stream-heavy", "stream-drift"))
    assert(Bench.provisions.map(_._1).distinct.size == 26)
  }

  test("previousIso reads the committed isolated medians; missing or " +
      "corrupt files degrade to empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-iso")
    val f = dir.resolve("bench_detail_last.json")
    java.nio.file.Files.writeString(f,
      """{"bench_detail":{"delta":{},"queries_full":{"q1_agg":0.5},""" +
        """"isolated_medians":{"d14_containment":1.55,"c28_x":2.0},""" +
        """"sf":"x","runs":3}}""")
    assert(Bench.previousIso(f) ==
      Map("d14_containment" -> 1.55, "c28_x" -> 2.0))
    assert(Bench.previousIso(dir.resolve("nope.json")).isEmpty)
    val g = dir.resolve("garbage.json")
    java.nio.file.Files.writeString(g, "not json at all")
    assert(Bench.previousIso(g).isEmpty)
  }
}
