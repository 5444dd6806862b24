package graft.operators

import graft.SparkTestBase
import graft.functions.FuzzyKernel
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

class SimilarityJoinSpec extends SparkTestBase {

  // NYC-shaped fixture (FIXTURES.md §1-2): jobs × payroll with titles that
  // exercise normalization, near-misses around the 85 cutoff, salary bands.
  private lazy val jobs = {
    val s = spark
    import s.implicits._
    Seq(
      ("Software Engineer", 90000.0, 120000.0),
      ("Senior Software-Engineer!!", 120000.0, 160000.0),
      ("Police Officer", 50000.0, 80000.0),
      ("Crossing Guard", 30000.0, 40000.0),
      ("Data Analyst", 70000.0, 95000.0)
    ).toDF("business_title", "salary_range_from", "salary_range_to")
  }

  private lazy val payroll = {
    val s = spark
    import s.implicits._
    Seq(
      ("SOFTWARE ENGINEER", 100000.0),
      ("software engineer.", 150000.0), // matches both SE jobs; band only for one
      ("POLICE OFFICER", 65000.0),
      ("POLICE OFFICER", 90000.0), // outside band
      ("Parking Enforcement Officer", 55000.0),
      ("Data  Analyst", 80000.0),
      ("Accountant", 75000.0)
    ).toDF("title_description", "base_salary")
  }

  /** Brute-force oracle mirroring the reference exactly:
    * normalize → token_set ≥ pre → wratio ≥ score → salary band. */
  private def oracle(pre: Double, cut: Double): Set[(String, String, Double)] = {
    val js = jobs.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val ps = payroll.collect().map(r => (r.getString(0), r.getDouble(1)))
    (for {
      (jt, lo, hi) <- js
      (pt, sal) <- ps
      nj = FuzzyKernel.normalizeTitle(jt)
      np = FuzzyKernel.normalizeTitle(pt)
      if FuzzyKernel.tokenSetRatio(nj, np) >= pre
      w = FuzzyKernel.wratio(nj, np)
      if w >= cut
      if lo <= sal && sal <= hi
    } yield (jt, pt, w)).toSet
  }

  private def cfg(blocking: Blocking) = SimilarityJoinConfig(
    leftKey = "business_title",
    rightKey = "title_description",
    preThreshold = 85.0,
    scoreThreshold = 85.0,
    blocking = blocking,
    extraPredicate = Some(
      col("salary_range_from") <= col("base_salary") &&
        col("base_salary") <= col("salary_range_to")))

  private def run(blocking: Blocking): Set[(String, String, Double)] =
    SimilarityJoin(jobs, payroll, cfg(blocking))
      .select("business_title", "title_description", "score")
      .collect()
      .map { case Row(a: String, b: String, s: Double) => (a, b, s) }
      .toSet

  test("exact blocking matches brute-force oracle") {
    val expected = oracle(85.0, 85.0)
    assert(expected.nonEmpty, "fixture should produce matches")
    assert(run(Blocking.Exact) == expected)
  }

  test("keys normalise with the kernel: a U+001F separator is whitespace") {
    val s = spark
    import s.implicits._
    val l = Seq("a\u001Fb").toDF("business_title")
    val r = Seq("a b").toDF("title_description")
    val got = SimilarityJoin(l, r, SimilarityJoinConfig(
      leftKey = "business_title", rightKey = "title_description",
      blocking = Blocking.Exact))
      .select("score").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(100.0), s"scores: $got")
  }

  test("token and ngram blocking match exact on this fixture") {
    val exact = run(Blocking.Exact)
    assert(run(Blocking.Token) == exact)
    assert(run(Blocking.NGram(3)) == exact)
    assert(run(Blocking.Auto) == exact)
  }

  test("token salting (skew valve) changes nothing but the partitioning") {
    val exact = run(Blocking.Exact)
    for (k <- Seq(2, 8)) {
      val salted = SimilarityJoin(jobs, payroll,
        cfg(Blocking.Token).copy(tokenSalt = k))
        .select("business_title", "title_description", "score")
        .collect()
        .map { case Row(a: String, b: String, s: Double) => (a, b, s) }
        .toSet
      assert(salted == exact, s"salt=$k diverged")
    }
  }

  test("auto token salt: engages from the histogram on a hot token, result-identical, no flag set") {
    def c(salt: Int, budget: Long) = SimilarityJoinConfig(
      leftKey = "business_title", rightKey = "title_description",
      preThreshold = 85.0, scoreThreshold = 85.0,
      blocking = Blocking.Token, tokenSalt = salt,
      tokenSaltPairBudget = budget)
    def pairs(salt: Int, budget: Long) =
      SimilarityJoin.scoredKeyPairs(jobs, payroll, c(salt, budget))
    val manual = pairs(salt = 1, budget = 250000L)
    // budget of 1 pair/task: the fixture's hottest shared token exceeds
    // it, so the DEFAULT auto config (tokenSalt = 0) must salt with no
    // flag set — visible as the __salt join key in the plan
    val auto = pairs(salt = 0, budget = 1L)
    assert(auto.queryExecution.analyzed.toString.contains("__salt"),
      "auto salt did not engage on a hot token over budget")
    assert(auto.collect().map(_.toString).toSet ==
      manual.collect().map(_.toString).toSet,
      "auto-salted results must be identical to unsalted")
    // a corpus under budget must NOT pay the replication
    val calm = pairs(salt = 0, budget = 250000L)
    assert(!calm.queryExecution.analyzed.toString.contains("__salt"),
      "auto salt engaged on a corpus under the pair budget")
    // and the derived factor is clamped to the cap
    import org.apache.spark.sql.functions._
    val lt0 = jobs.select(graft.functions.normalize_title(
        col("business_title")).as("__n"))
      .withColumn("__tok", explode(split(col("__n"), " ")))
    val rt0 = payroll.select(graft.functions.normalize_title(
        col("title_description")).as("__n"))
      .withColumn("__tok", explode(split(col("__n"), " ")))
    // hottest shared token here is "officer": 1 left key × 3 right keys
    assert(SimilarityJoin.deriveTokenSalt(lt0, rt0, budget = 1L, cap = 16) == 3)
    assert(SimilarityJoin.deriveTokenSalt(lt0, rt0, budget = 1L, cap = 2) == 2,
      "derived factor must clamp to the cap")
    assert(SimilarityJoin.deriveTokenSalt(lt0, rt0,
      budget = 1000000L, cap = 16) == 1)
  }

  test("output schema is left ++ right ++ score with right winning collisions") {
    val out = SimilarityJoin(jobs, payroll, cfg(Blocking.Exact))
    assert(out.columns.toSeq ==
      Seq("business_title", "salary_range_from", "salary_range_to",
        "title_description", "base_salary", "score"))
  }

  test("top-k per left limits matches") {
    val c = cfg(Blocking.Exact).copy(
      preThreshold = 60.0, scoreThreshold = 60.0,
      extraPredicate = None,
      topKPerLeft = Some(1), topKTieBreak = Seq(col("title_description")))
    val out = SimilarityJoin(jobs, payroll, c)
      .groupBy("business_title").count().collect()
    assert(out.forall(_.getLong(1) == 1L))
  }

  test("top-k is per LEFT ROW: duplicate-key left rows each keep k matches") {
    val s = spark
    import s.implicits._
    val dupJobs = Seq(
      ("Software Engineer", 90000.0, 120000.0),
      ("Software Engineer", 90000.0, 120000.0) // same title, second posting
    ).toDF("business_title", "salary_range_from", "salary_range_to")
    val c = cfg(Blocking.Exact).copy(
      preThreshold = 60.0, scoreThreshold = 60.0, extraPredicate = None,
      topKPerLeft = Some(1), topKTieBreak = Seq(col("title_description")))
    val out = SimilarityJoin(dupJobs, payroll, c)
    // both left rows survive with their own top-1
    assert(out.count() == 2)
  }

  test("ngram blocking finds exact-equal keys shorter than q (padding)") {
    val s = spark
    import s.implicits._
    val l = Seq(("ab", 0.0, 1.0)).toDF("business_title", "salary_range_from", "salary_range_to")
    val r = Seq(("ab", 0.5)).toDF("title_description", "base_salary")
    val c = cfg(Blocking.NGram(3)).copy(extraPredicate = None)
    val out = SimilarityJoin(l, r, c).collect()
    assert(out.length == 1 && out.head.getAs[Double]("score") == 100.0)
  }

  test("computed score overwrites an input column named scoreCol (reference dict-merge)") {
    val s = spark
    import s.implicits._
    val r2 = payroll.withColumn("score", org.apache.spark.sql.functions.lit(-1.0))
    val c = cfg(Blocking.Exact).copy(extraPredicate = None)
    val out = SimilarityJoin(jobs, r2, c)
    assert(out.columns.count(_ == "score") == 1)
    assert(out.select("score").collect().forall(_.getDouble(0) >= 85.0))
  }

  test("join-back broadcast is size-gated: above the cap no hint is forced") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def userHints(maxRows: Long) =
      SimilarityJoin(jobs, payroll,
        cfg(Blocking.Exact).copy(broadcastPairsMaxRows = maxRows))
        .queryExecution.optimizedPlan.collect {
          case j: Join if j.hint.leftHint.isDefined || j.hint.rightHint.isDefined =>
            j.hint
        }
    // the pairs frame is cached inside apply, so the blocking-stage hint is
    // behind the InMemoryRelation — any surviving hint is the join-back's
    assert(userHints(Long.MaxValue).nonEmpty,
      "under the cap the pairs side should carry the broadcast hint")
    assert(userHints(0L).isEmpty,
      "above the cap no forced broadcast hint may survive")
  }

  test("above the cap the join-back plans a shuffle join, results identical") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      // -1 disables both static and AQE-runtime broadcast conversion: the
      // ONLY way a BroadcastHashJoin can appear is our forced hint
      spark.conf.set(key, "-1")
      def planAfterRun(maxRows: Long): (String, Set[(String, String, Double)]) = {
        val out = SimilarityJoin(jobs, payroll,
          cfg(Blocking.Exact).copy(broadcastPairsMaxRows = maxRows))
        val rows = out.select("business_title", "title_description", "score")
          .collect()
          .map { case Row(a: String, b: String, s: Double) => (a, b, s) }.toSet
        (out.queryExecution.executedPlan.toString, rows)
      }
      val (forcedPlan, forcedRows) = planAfterRun(Long.MaxValue)
      val (gatedPlan, gatedRows) = planAfterRun(0L)
      assert(forcedPlan.contains("BroadcastHashJoin"),
        "under the cap the pairs join should broadcast")
      assert(!gatedPlan.contains("BroadcastHashJoin"),
        "above the cap the pairs join must fall back to a shuffle join")
      assert(gatedRows == forcedRows && gatedRows == oracle(85.0, 85.0))
    } finally spark.conf.set(key, prev)
  }

  test("scoring-stage width follows the deployment, not a constant") {
    // VERDICT r5 task 8: the explicit scoring exchange must be sized from
    // the env (SPARK_GRAFT_CPUS → shuffle partitions via graft.Sessions,
    // or spark.sql.shuffle.partitions on a cluster), with
    // spark.graft.scoringParallelism as the explicit valve.
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    def scoringWidths(blocking: Blocking): Seq[Int] =
      SimilarityJoin.scoredKeyPairs(jobs, payroll, cfg(blocking))
        .queryExecution.optimizedPlan
        .collect { case r: RepartitionOperation => r.numPartitions }
    val shufKey = "spark.sql.shuffle.partitions"
    val prevShuf = spark.conf.get(shufKey)
    try {
      // a non-32 env-derived setting: every explicit scoring repartition
      // (Exact's round-robin, Token's two hash exchanges) follows it when
      // it exceeds the local core count
      spark.conf.set(shufKey, "48")
      assert(SimilarityJoin.scoringWidth(spark) == 48)
      assert(scoringWidths(Blocking.Exact).nonEmpty)
      assert(scoringWidths(Blocking.Exact).forall(_ == 48))
      assert(scoringWidths(Blocking.Token).forall(_ == 48))
      // the explicit valve overrides the derived width
      spark.conf.set("spark.graft.scoringParallelism", "7")
      assert(SimilarityJoin.scoringWidth(spark) == 7)
      assert(scoringWidths(Blocking.Exact).forall(_ == 7))
    } finally {
      spark.conf.unset("spark.graft.scoringParallelism")
      spark.conf.set(shufKey, prevShuf)
    }
    // with nothing set, the width is the max of registered cores and the
    // session's shuffle partitions — never below either
    assert(SimilarityJoin.scoringWidth(spark) ==
      math.max(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions").toInt))
  }

  test("lightcast-style flow at 75/75 without extra predicate") {
    val c = SimilarityJoinConfig(
      leftKey = "business_title", rightKey = "title_description",
      preThreshold = 75.0, scoreThreshold = 75.0, blocking = Blocking.Exact)
    val got = SimilarityJoin(jobs, payroll, c)
      .select("business_title", "title_description", "score").collect()
      .map { case Row(a: String, b: String, s: Double) => (a, b, s) }.toSet
    val js = jobs.collect().map(_.getString(0))
    val ps = payroll.collect().map(_.getString(0))
    val expected = (for {
      jt <- js; pt <- ps
      nj = FuzzyKernel.normalizeTitle(jt); np = FuzzyKernel.normalizeTitle(pt)
      if FuzzyKernel.tokenSetRatio(nj, np) >= 75.0
      w = FuzzyKernel.wratio(nj, np) if w >= 75.0
    } yield (jt, pt, w)).toSet
    assert(got == expected)
  }
}
