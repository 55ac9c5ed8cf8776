package graft

import org.apache.spark.sql.functions._

/** Null-parity pins for driver queries whose one-scan rewrites must stay
  * byte-equivalent to their SELECT DISTINCT oracle twins on null-bearing
  * data the shipped testdata doesn't contain.
  */
class QueriesNullSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  test("q20: NULL flag values survive the one-scan collect_set shape like DISTINCT") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q20_nulls").toString
    Seq(
      (1L, "A", "F"),
      (2L, null.asInstanceOf[String], "O"),
      (3L, "A", null.asInstanceOf[String]),
      (4L, "A", "F"), // duplicate combination — DISTINCT keeps one
    ).toDF("l_orderkey", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq("east", "west").toDF("r_name").write.parquet(s"$dir/region.parquet")
    val rows = SparkEntry.queries("q20_all_combinations")(spark, dir)
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getString(2)))
    // one row per combination (collect_set + null re-append must not dup)
    assert(rows.distinct.length == rows.length)
    val expected = for {
      rf <- Set(Option("A"), None)
      ls <- Set(Option("F"), Option("O"), None)
      rn <- Set("east", "west")
    } yield (rf, ls, rn)
    assert(rows.toSet == expected)
  }

  test("q18: a NULL lookup key keeps its DISTINCT slot (nulls last) like the oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q18_nulls").toString
    Seq(Option(10L), None, Option(5L), Option(10L))
      .toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q18_fk_sample_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Option(r.getLong(1))))
      .toMap
    // DISTINCT keys sorted with the null LAST (DuckDB's row_number default
    // null order in the oracle) = [5, 10, NULL]; n = 3; idx = o_orderkey % 3
    val lookup = Vector(Option(5L), Option(10L), None)
    val expected = (0L to 5L).map(k => k -> lookup((k % 3).toInt)).toMap
    assert(rows == expected)
  }

  test("q33: a NULL region key keeps its DISTINCT slot in the all-combinations overlay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q33_nulls").toString
    Seq(Option("east"), None, Option("west")).toDF("r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q33_fk_all_combinations")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(rows.size == 6)
    // n = 3 (null kept, LAST), per = greatest(floor(6/2),1) = 3; the valid
    // block is floor(o_orderkey/3) % 2 == 1, i.e. keys 3..5
    val lookup = Vector(Option("east"), Option("west"), None)
    (3L to 5L).foreach(k => assert(rows(k) == lookup((k % 3).toInt)))
    (0L to 2L).foreach(k => assert(rows(k).exists(_.startsWith("INVALID_"))))
  }

  test("boundedLookup: a NULL key counts toward the cap in the guard as in the lookup") {
    // 4 rows > cap 3, so the guard runs: 2 distinct keys + NULL = 3 slots fit
    val fits = Seq(Option(1L), Option(1L), Option(2L), None).toDF("k")
    val (lookup, n) = Queries.boundedLookup(fits, "k", 3L, "qb")
    assert(n == 3)
    assert(lookup.orderBy("idx").collect().map(r => Option(r.get(1))).toSeq ==
      Seq(Option(1L), Option(2L), None))
    // 3 distinct keys + NULL = 4 slots > cap 3: the guard rejects it before
    // the lookup materializes (the post-collect check would append ": 4")
    val over = Seq(Option(1L), Option(2L), Option(3L), None).toDF("k")
    val e = intercept[IllegalArgumentException](Queries.boundedLookup(over, "k", 3L, "qb"))
    assert(e.getMessage == "requirement failed: qb lookup side unexpectedly large")
  }

  test("boundedLookup: repeated calls leave no cached frame behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // twenty different inputs: the cache would dedupe identical plans
    (1 to 20).foreach { i =>
      val (lookup, n) = Queries.boundedLookup((0L until i.toLong).toDF("k"), "k", 100L, "qb")
      assert(n == i && lookup.count() == i)
    }
    assert(sc.getPersistentRDDs.size == before)
  }
}
