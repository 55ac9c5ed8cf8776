package graft.rules

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Per-rule unit tests in the reference's style (small DF in, expected
  * pass/fail counts out — `ValidationOperationsTest`-like, SURVEY §5).
  */
class RuleEngineSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def df = Seq(
    (1, "alice", 30, "a@b.com"),
    (2, "bob", 17, "bob at example"),
    (3, null.asInstanceOf[String], 45, "c@d.org"),
    (4, "carol", 200, ""),
    (5, "dave", -1, "e@f.io"),
  ).toDF("id", "name", "age", "contact")

  private def errors(r: Rule): Long =
    df.where(!coalesce(r.predicate, lit(false))).count()

  test("isNotNull") { assert(errors(Rules.isNotNull("name")) == 1) }
  test("between") { assert(errors(Rules.between("age", 0, 120)) == 2) }
  test("matches email") {
    assert(errors(Rules.matches("contact", "^[A-Za-z0-9.]+@[A-Za-z0-9.]+$")) == 2)
  }
  test("in") { assert(errors(Rules.in("name", Seq("alice", "bob", "carol", "dave"))) == 1) }
  test("lengthBetween") { assert(errors(Rules.lengthBetween("name", 3, 10)) == 1) }
  test("null predicate counts as error (strict-null contract)") {
    // name is null for id=3 → startsWith yields NULL → error
    assert(errors(Rules.startsWith("name", "a")) == 4)
  }

  test("annotate: first failing rule wins, canonical order") {
    val rules = Seq(
      Rules.isNotNull("name"),
      Rules.between("age", 0, 120),
      Rules.lengthBetween("contact", 1, 100))
    val out = RuleEngine.annotate(df, rules)
      .select("id", "drop_reason").as[(Int, String)].collect().toMap
    assert(out(1) == null)
    assert(out(3) == "name_notnull") // null name fails rule 1 before age check
    assert(out(4) == "age_between")  // 200 out of range; contact empty never reached
    assert(out(5) == "age_between")
  }

  test("validateAll: one pass, per-rule error counts + threshold") {
    val rules = Seq(Rules.isNotNull("name"), Rules.between("age", 0, 120))
    val rs = RuleEngine.validateAll(df, rules, threshold = 0.25)
    assert(rs.map(r => r.rule -> r.errors).toMap ==
      Map("name_notnull" -> 1L, "age_between" -> 2L))
    assert(rs.find(_.rule == "name_notnull").get.success) // 1/5 <= 0.25
    assert(!rs.find(_.rule == "age_between").get.success) // 2/5 > 0.25
  }

  test("groupBy validation: violating groups") {
    val sales = Seq(("a", 10.0), ("a", 20.0), ("b", 500.0), ("c", 5.0))
      .toDF("k", "v")
    val bad = GroupRules.groupByValidation(sales, Seq("k"), "v", "sum", _ <= 100.0)
    assert(bad.select("k").as[String].collect().toSeq == Seq("b"))
  }

  test("duplicateGroups + dropOverflowGroups") {
    val d = Seq(1, 1, 1, 2, 3, 3).toDF("k")
    assert(GroupRules.duplicateGroups(d, Seq("k")).count() == 2)
    assert(GroupRules.dropOverflowGroups(d, Seq("k"), 2).count() == 3) // k=1 dropped
  }

  test("monotonicity violations within partition groups") {
    val d = Seq((1, 1, 10.0), (1, 2, 12.0), (1, 3, 11.0), (2, 1, 5.0), (2, 2, 6.0))
      .toDF("g", "t", "v")
    val bad = GroupRules.monotonicityViolations(d, "v", "t", Seq("g"))
    assert(bad.select("g", "t").as[(Int, Int)].collect().toSeq == Seq((1, 3)))
  }

  test("global monotonicity (no partition keys): distributed bucketed path") {
    // v = 10*t except dips at t=3 (inside bucket 1) and t=9 (the FIRST row of
    // bucket 3 under width_bucket(t,1,20,5) — exercises the cross-bucket
    // boundary join, not just the per-bucket lag window)
    val d = (1 to 20).map(t => (t, t match {
      case 3 => 15.0
      case 9 => 75.0
      case _ => t * 10.0
    })).toDF("t", "v")
    val bad = GroupRules.monotonicityViolations(d, "v", "t", Nil, buckets = 5)
    assert(bad.select("t").as[Int].collect().sorted.toSeq == Seq(3, 9))
    // same data, strictly-decreasing → everything except the two dips violates
    val badDec = GroupRules.monotonicityViolations(
      d, "v", "t", Nil, increasing = false, strictly = true, buckets = 5)
    assert(badDec.count() == 17) // 19 successor rows - 2 decreasing steps
    // degenerate inputs: empty frame and single-valued ordering column
    assert(GroupRules.monotonicityViolations(d.limit(0), "v", "t", Nil).count() == 0)
    val flat = Seq((1, 5.0), (1, 3.0)).toDF("t", "v")
    assert(GroupRules.monotonicityViolations(flat, "v", "t", Nil).count() <= 1)
    // null FIELD values are skipped, NOT misread as bucket boundaries:
    // lag(field) is null both at a bucket's first row and after a null
    // field — the row after the null must not be compared against the
    // previous bucket's last value (regression: t=12 was reported)
    val withNull = (1 to 20).map(t =>
      (t, if (t == 11) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(t * 10.0)))
      .toDF("t", "v")
    assert(GroupRules.monotonicityViolations(withNull, "v", "t", Nil, buckets = 5).count() == 0)
  }

  test("global monotonicity on STRING ordering columns (lexicographic, not silently green)") {
    // regression: the former cast-to-double bucketing nulled every string
    // ordering key and returned ZERO violations — a silent pass. Range
    // partitioning orders any orderable type, so lexicographic checks work.
    val d = (1 to 20).map(i => (f"k$i%02d", i match {
      case 3 => 15.0
      case 9 => 75.0
      case _ => i * 10.0
    })).toDF("t", "v")
    val bad = GroupRules.monotonicityViolations(d, "v", "t", Nil, buckets = 5)
    assert(bad.select("t").as[String].collect().sorted.toSeq == Seq("k03", "k09"))
    // isIncreasing-on-a-string-field shape (orderBy == field): strictly
    // increasing flags exactly the duplicate pair
    val dup = Seq("a", "b", "b", "c").toDF("s")
    assert(GroupRules.monotonicityViolations(
      dup, "s", "s", Nil, strictly = true, buckets = 3).count() == 1)
  }

  test("quantiles + uniqueValuesProportion") {
    val d = (1 to 100).toDF("x")
    val qs = GroupRules.quantiles(d, "x", Seq(0.5))
    assert(math.abs(qs.head - 50.5) < 0.01)
    assert(GroupRules.uniqueValuesProportion(d, "x") == 1.0)
  }

  test("errorSamples: offending rows with nested structs flattened") {
    val nested = Seq(
      (1, 30, ("sf", "ca")),
      (2, 200, ("la", "ca")),
      (3, 300, ("nyc", "ny")),
    ).toDF("id", "age", "addr")
    val rule = Rules.between("age", 0, 120)
    val s = RuleEngine.errorSamples(nested, rule, 10)
    assert(s.columns.toSeq == Seq("id", "age", "addr._1", "addr._2"))
    val rows = s.collect().map(r => (r.getInt(0), r.getString(2))).sorted
    assert(rows.toSeq == Seq((2, "la"), (3, "nyc")))
  }

  test("validateAllWithSamples: failed rules carry samples, passing rules don't") {
    val rules = Seq(Rules.isNotNull("name"), Rules.between("age", 0, 120))
    val rs = RuleEngine.validateAllWithSamples(df, rules, numSamples = 1)
    val byName = rs.map(r => r.rule -> r).toMap
    assert(!byName("name_notnull").success && byName("name_notnull").samples.size == 1)
    assert(byName("name_notnull").samples.head("id") == 3)
    assert(!byName("age_between").success && byName("age_between").samples.size == 1)
    val passing = RuleEngine.validateAllWithSamples(df, Seq(Rules.between("id", 0, 10)))
    assert(passing.head.success && passing.head.samples.isEmpty)
  }

  test("distinctContainsSet / distinctEqual / mostCommonValueInSet") {
    val d = Seq("a", "a", "b", "c").toDF("v")
    assert(GroupRules.distinctContainsSet(d, "v", Seq("a", "b")))
    assert(!GroupRules.distinctContainsSet(d, "v", Seq("a", "z")))
    assert(GroupRules.distinctEqual(d, "v", Seq("a", "b", "c")))
    assert(!GroupRules.distinctEqual(d, "v", Seq("a", "b")))         // extra c
    assert(!GroupRules.distinctEqual(d, "v", Seq("a", "b", "c", "d"))) // missing d
    val withNull = Seq(Some("a"), Some("b"), None).toDF("v")
    assert(!GroupRules.distinctEqual(withNull, "v", Seq("a", "b"))) // null = extra
    assert(GroupRules.mostCommonValueInSet(d, "v", Seq("a", "x")))
    assert(!GroupRules.mostCommonValueInSet(d, "v", Seq("b", "c")))
    // tie between b and c at count 1... and mode overall is a (count 2)
    val tie = Seq("b", "c", "b", "c").toDF("v")
    assert(GroupRules.mostCommonValue(tie, Nil, "v").head().getString(0) == "b") // smallest wins
  }

  test("mostCommonValue per group with deterministic tiebreak") {
    val d = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "p"), ("g2", "q"))
      .toDF("g", "v")
    val m = GroupRules.mostCommonValue(d, Seq("g"), "v")
      .as[(String, String)].collect().toMap
    assert(m == Map("g1" -> "x", "g2" -> "p")) // g2 tie → smallest value
  }

  test("hasTypes and matchJsonSchema rules") {
    val d = Seq(
      """{"a": 1, "b": "x"}""",
      """not json at all""",
      """{"a": "not an int", "b": "x"}""",
    ).toDF("j")
    val typed = Seq((1, "s")).toDF("i", "s")
    // CODEGEN_ONLY: a filter whose generated code fails to compile throws
    // instead of falling back to interpreted code
    val mode = "spark.sql.codegen.factoryMode"
    for (m <- Seq("FALLBACK", "CODEGEN_ONLY")) {
      spark.conf.set(mode, m)
      try {
        assert(errors2(d, Rules.matchJsonSchema("j", "a INT, b STRING")) == 2, m)
        assert(errors2(typed, Rules.hasTypes("i", Seq("int", "bigint"))) == 0, m)
        assert(errors2(typed, Rules.hasTypes("s", Seq("int", "bigint"))) == 1, m)
        assert(errors2(typed, Rules.hasType("i", "int")) == 0, m)
      } finally spark.conf.unset(mode)
    }
  }
  private def errors2(d: org.apache.spark.sql.DataFrame, r: Rule): Long =
    d.where(!coalesce(r.predicate, lit(false))).count()

  test("fieldNames validations: count, order, set") {
    assert(SchemaRules.fieldCountEqual(df, 4).success)
    assert(!SchemaRules.fieldCountEqual(df, 3).success)
    assert(SchemaRules.fieldCountBetween(df, 2, 5).success)
    assert(SchemaRules.fieldNameMatchOrder(df, Seq("id", "name", "age", "contact")).success)
    val misordered = SchemaRules.fieldNameMatchOrder(df, Seq("name", "id", "age", "contact"))
    assert(!misordered.success && misordered.errors == 2)
    assert(misordered.samples.head("field_index_0") == "id -> name")
    assert(SchemaRules.fieldNameMatchSet(df, Seq("age", "id")).success)
    val missing = SchemaRules.fieldNameMatchSet(df, Seq("id", "nope"))
    assert(!missing.success && missing.samples == Seq(Map("missing_field" -> "nope")))
  }

  test("named aggregate-between builders + medianBetween") {
    val d = (1 to 100).toDF("x")
    assert(GroupRules.sumBetween(d, "x", 5050, 5050))
    assert(!GroupRules.sumBetween(d, "x", 0, 100))
    assert(GroupRules.minBetween(d, "x", 1, 1) && GroupRules.maxBetween(d, "x", 100, 100))
    assert(GroupRules.meanBetween(d, "x", 50, 51))
    assert(GroupRules.stdDevBetween(d, "x", 28, 30))
    assert(GroupRules.medianBetween(d, "x", 50, 51))
    assert(!GroupRules.medianBetween(d, "x", 0, 10))
  }

  test("luhnCheck: valid and invalid check digits") {
    val d = Seq("79927398713", "79927398710", "4539578763621486").toDF("card")
    assert(errors2(d, Rules.luhnCheck("card")) == 1) // only ...710 fails
  }

  test("metric threshold validations") {
    import graft.pipeline.RunReport
    val s = RunReport.Summary("r1", 1000L, 900L, 0.9,
      Map("caption_length" -> 60L, "image_fmt" -> 40L), Map("email" -> 5L), 8L)
    import MetricRules._
    assert(validate(s, "keep_rate", Seq(Between(0.8, 1.0))).success)
    assert(!validate(s, "drop_rate", Seq(LessThan(0.05))).success)
    assert(validate(s, "rows_out", Seq(GreaterThan(100), LessThan(1e6))).success)
    assert(validate(s, "drop_reason.caption_length", Seq(EqualTo(60))).success)
    assert(validate(s, "drop_reason.never_fired", Seq(EqualTo(0))).success)
    assert(validate(s, "scrub.email", Seq(InSet(Seq(5.0)))).success)
    val unknown = validate(s, "bogus", Seq(EqualTo(0)))
    assert(!unknown.success && unknown.samples.head("unknown_metric") == "bogus")
  }

  test("fuzz: q2 fused feature rules == the Column-expression rules they replaced") {
    // the q2 oracle query now computes its five text features in one JIT'd
    // UDF scan; this pins (keep, drop_reason) equality against the original
    // TF Column formulation on adversarial inputs: null, empty, all-space,
    // lone control whitespace (\t \x0B \f), unicode (CJK = symbols),
    // boundary lengths, token-count and ratio edges
    import graft.functions.{TextFunctions => TF}
    val texts: Seq[String] = Seq(
      null, "", " ", "   ", "\t", "\u000b", "\f", "\r\n", "a", " a ",
      "word " * 10, "x" * 50, "x" * 49, "x" * 400, "x" * 401,
      "one two three four five six seven eight",
      "one two three four five six seven",
      ("tok " * 8).trim, "dup dup dup dup dup dup dup dup",
      "a b a b a b a b a b", "!@#$%^&*()" * 10, "abc!def?ghi." * 10,
      "\u7684\u662f\u4e0d words here \u7684",
      "mixed  \t spacing\n runs\u000bhere now ok yes",
      "ALLCAPS lower 0123456789 ~`[]{}",
    ) ++ (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      (0 until rnd.nextInt(120)).map { _ =>
        val r = rnd.nextInt(12)
        if (r < 6) ('a' + rnd.nextInt(26)).toChar
        else if (r < 8) ' '
        else if (r == 8) Seq('\t', '\n', '\r', 11.toChar, '\f')(rnd.nextInt(5))
        else if (r == 9) ('0' + rnd.nextInt(10)).toChar
        else if (r == 10) Seq('!', '@', '.', '-', '\u00e9')(rnd.nextInt(5))
        else '\u4e2d'
      }.mkString
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val text = col("text")
    val oldRules = Seq(
      Rule("text_missing", text.isNotNull && length(trim(text)) > 0),
      Rule("text_length", length(text).between(50, 400)),
      Rule("few_tokens", TF.tokenCount(text) >= 8),
      Rule("repetitive", TF.distinctTokenRatio(text) >= 0.3),
      Rule("symbolic", TF.symbolRatio(text) <= 0.2))
    val expected = RuleEngine.annotate(df, oldRules)
      .select("doc_id", "drop_reason", "keep").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    val got = RuleEngine.annotate(
        df.withColumn("__f", graft.Queries.q2Features(col("text"))),
        graft.Queries.q2Rules(col("text"), col("__f")))
      .select("doc_id", "drop_reason", "keep").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }
}
