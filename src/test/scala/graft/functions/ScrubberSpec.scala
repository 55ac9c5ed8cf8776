package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ScrubberSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private val cases = Seq(
    ("write to a@b.com ok", "write to [EMAIL] ok", Map("email" -> 1)),
    ("ssn 555-01-2345 leaked", "ssn [SSN] leaked", Map("ssn" -> 1)),
    ("call +1 (555) 123-4567 now", "call [PHONE] now", Map("phone" -> 1)),
    ("call 555-123-4567 now", "call [PHONE] now", Map("phone" -> 1)),
    ("that badword and SLURX here", "that [CENSORED] and [CENSORED] here", Map("lexicon" -> 2)),
    ("a@b.com and 123-45-6789 and badword", "[EMAIL] and [SSN] and [CENSORED]",
      Map("email" -> 1, "ssn" -> 1, "lexicon" -> 1)),
    ("clean text stays", "clean text stays", Map.empty[String, Int]),
  )

  test("Spark scrub == pure-Scala scrub == expected, with counts") {
    val df = cases.map(_._1).toDF("t")
      .select(col("t"), Scrubber.scrub(col("t")).as("s"))
    val rows = df.collect()
    cases.zip(rows).foreach { case ((in, expOut, expCounts), row) =>
      assert(row.getString(1) == expOut, s"spark scrub of '$in'")
      assert(Scrubber.scrubScala(in) == expOut, s"scala scrub of '$in'")
      val scalaCounts = Scrubber.scrubCountsScala(in)
      expCounts.foreach { case (k, v) => assert(scalaCounts(k) == v, s"scala count $k for '$in'") }
    }
  }

  test("scrub is idempotent (property, seeded scalacheck gen)") {
    val wordGen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("a@b.com", "555-01-2345", "+1 555-123-4567", "badword", "の 猫", "x y z"))
    val lineGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    val samples = (0 until 60).flatMap(i => lineGen.apply(Gen.Parameters.default, Seed(42L + i)))
    assert(samples.size >= 50)
    samples.foreach { s =>
      val once = Scrubber.scrubScala(s)
      // replacement tokens contain no scrubbable patterns → fixpoint after one pass
      assert(Scrubber.scrubScala(once) == once, s"not idempotent for: $s")
    }
  }

  test("null-safe") {
    assert(Scrubber.scrubScala(null) == null)
    val r = Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(Scrubber.scrub(col("t"))).head()
    assert(r.isNullAt(0))
  }
}
