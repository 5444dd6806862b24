package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class FuzzyExpressionsSpec extends SparkTestBase {
  import graft.functions.{normalize_title => normTitle, _}

  private lazy val pairs = {
    val s = spark
    import s.implicits._
    Seq(
      ("police officer", "police officer"),
      ("senior software engineer", "software engineer senior"),
      ("fuzzy was a bear", "fuzzy fuzzy was a bear"),
      ("this is a test", "this is a test!"),
      ("accountant", "account manager"),
      ("", "nonempty"),
      ("kitten", "sitting")
    ).toDF("a", "b")
  }

  test("expressions match kernel through codegen") {
    val rows = pairs
      .select(
        col("a"), col("b"),
        fuzz_ratio(col("a"), col("b")).as("r"),
        partial_ratio(col("a"), col("b")).as("pr"),
        token_sort_ratio(col("a"), col("b")).as("tsr"),
        token_set_ratio(col("a"), col("b")).as("tser"),
        wratio(col("a"), col("b")).as("w"))
      .collect()
    rows.foreach { case Row(a: String, b: String, r: Double, pr: Double,
        tsr: Double, tser: Double, w: Double) =>
      assert(r == FuzzyKernel.ratio(a, b), s"ratio($a,$b)")
      assert(pr == FuzzyKernel.partialRatio(a, b), s"partial($a,$b)")
      assert(tsr == FuzzyKernel.tokenSortRatio(a, b), s"tokenSort($a,$b)")
      assert(tser == FuzzyKernel.tokenSetRatio(a, b), s"tokenSet($a,$b)")
      assert(w == FuzzyKernel.wratio(a, b), s"wratio($a,$b)")
    }
  }

  test("SQL registration works") {
    pairs.createOrReplaceTempView("fuzzy_pairs")
    val rows = spark.sql(
      """SELECT a, b, wratio(a, b) AS w, token_set_ratio(a, b) AS t
        |FROM fuzzy_pairs WHERE token_set_ratio(a, b) >= 85""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(a: String, b: String, w: Double, t: Double) =>
      assert(t >= 85.0)
      assert(w == FuzzyKernel.wratio(a, b))
    }
  }

  test("threshold boundaries hold through the codegen expression") {
    val s = spark
    import s.implicits._
    // raw-score cutoffs vs display rounding: 84.848… rounds to 85 but a
    // `wratio >= 85` filter must drop it; exactly 85.0 must survive
    val df = Seq(
      ("a" * 20, "a" * 17 + "bbb", true),   // 85.0 exactly
      ("a" * 17, "a" * 14 + "bb", false),   // 84.848… (rounds to 85)
      ("a" * 100, "a" * 84 + "b" * 15, false), // 84.422…
      ("a" * 20, "a" * 15 + "b" * 5, false), // 75.0 — passes 75, not 85
      ("a" * 100, "a" * 74 + "b" * 25, false) // 74.371… — fails both
    ).toDF("a", "b", "keep")
    val kept = df.where(wratio(col("a"), col("b")) >= 85.0)
      .select("a").collect().map(_.getString(0)).toSet
    assert(kept == Set("a" * 20))
    val kept75 = df.where(wratio(col("a"), col("b")) >= 75.0)
      .select("a").collect().length
    assert(kept75 == 4) // only the 74.371… pair falls below 75
    // the SQL surface agrees with the kernel digit-for-digit on the
    // boundary pairs (same codegen path the joins compile to)
    df.select(col("a"), col("b"), wratio(col("a"), col("b")).as("w"))
      .collect().foreach { case Row(a: String, b: String, w: Double) =>
        assert(w == FuzzyKernel.wratio(a, b))
      }
  }

  test("null inputs score null; normalize_title maps null to empty") {
    val s = spark
    import s.implicits._
    val df = Seq((Some("abc"), None: Option[String]), (None, Some("x")))
      .toDF("a", "b")
      .select(
        wratio(col("a"), col("b")).as("w"),
        normTitle(col("a")).as("na"))
    val rows = df.collect()
    assert(rows.forall(_.isNullAt(0)))
    assert(rows.map(_.getString(1)).toSeq == Seq("abc", ""))
  }

  // The case keeps the name it had when SimilarityJoin keyed on
  // normalizeTitleCol, a composition of Spark built-ins; the join now calls
  // normalize_title, so the composition checked here is that expression,
  // through codegen and interpreted eval.
  test("normalizeTitleCol built-in composition agrees with kernel") {
    val s = spark
    import s.implicits._
    // U+001F and U+2003 are Character.isWhitespace but not regex \s: the
    // regexp_replace composition kept them as letters
    val inputs = Seq("  Senior,  Software-Engineer!! ", "POLICE OFFICER",
      "a\tb   c", "!!!", "Dr. O'Neil-Smith (Acting)", "plain title",
      "a\u001Fb", "Data\u2003Analyst\u2003")
    // the repartition keeps the projection out of the local-relation
    // folding, so it runs in a generated stage
    val df = inputs.toDF("t").repartition(2)
      .select(col("t"), normTitle(col("t")).as("codegen"))
    df.collect().foreach { case Row(t: String, cg: String) =>
      val k = FuzzyKernel.normalizeTitle(t)
      assert(cg == k, s"codegen mismatch for [$t]")
      assert(NormalizeTitle(org.apache.spark.sql.catalyst.expressions
        .Literal(t)).eval().toString == k, s"eval mismatch for [$t]")
    }
    assert(FuzzyKernel.normalizeTitle("a\u001Fb") == "a b")
    assert(FuzzyKernel.normalizeTitle("Data\u2003Analyst\u2003") ==
      "data analyst")
  }
}
