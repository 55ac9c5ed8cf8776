package graft.util

import graft.corpus.SyntheticImages
import graft.functions.LangId
import org.scalatest.funsuite.AnyFunSuite

/** Pins the tables and rows that are derived from splitmix64. `Oracle`
  * reuses `LangId` and `SyntheticImages`, so the `filter` oracle check moves
  * with any drift in them and cannot see it; these fixed values can.
  */
class SplitMix64Spec extends AnyFunSuite {

  private def checksum(rows: Array[Array[Double]]): Long =
    rows.foldLeft(17L)((h, row) =>
      row.foldLeft(h)((h2, d) => h2 * 31 + java.lang.Double.doubleToLongBits(d)))

  test("splitmix64 matches the reference generator's first outputs") {
    // SplitMix64 seeded with 0: its state advances by the golden gamma, so
    // the n-th output is splitmix64((n - 1) * gamma)
    assert(SplitMix64.splitmix64(0L) == 0xe220a8397b1dcdafL)
    assert(SplitMix64.splitmix64(0x9e3779b97f4a7c15L) == 0x6e789e6aa1b965f4L)
  }

  test("LangId embeddings and weights are unchanged") {
    assert(checksum(LangId.embeddings) == EmbeddingsChecksum, checksum(LangId.embeddings))
    assert(checksum(LangId.weights) == WeightsChecksum, checksum(LangId.weights))
  }

  test("SyntheticImages rows are unchanged") {
    val got = Seq(0L, 1L, 7L, 12345L).map { i =>
      val r = SyntheticImages.row(i, 42L)
      (r.image_id, java.util.Arrays.hashCode(r.bytes), r.w, r.h, r.fmt, r.caption, r.phash)
    }
    assert(got == Rows, got)
  }

  // read from the code before splitmix64 moved to graft.util
  private val EmbeddingsChecksum = 8503054710613552659L
  private val WeightsChecksum = -5982561059806139214L
  private val Rows: Seq[(String, Int, Int, Int, String, String, Long)] = Seq(
    ("IMG000000000000", 1995032814, 2483, 3810, "bmp",
      "tisch kinder foto foto straße und brücke die katze und porträt licht", 3L),
    ("IMG000000000001", 970013589, 3431, 1643, "png",
      "photo the flower sand children with mountain park table river mountain sunny with sand " +
        "table this ssn 422-35-9901 leaked", 1L),
    ("IMG000000000007", -150993835, 1721, 378, "bmp", "foto otoño es foto parque cielo arena la", 5704833L),
    ("IMG000000012345", 1866635726, 2057, 1250, "raw", "", 2L))
}
