package graft

import java.nio.file.{Files, Paths}

/** Cache lifecycle of the driver queries in one long-lived session (the REST
  * server's saved-plan-run pattern): each call, materialized in full, must
  * leave the session's cache empty, so repeated runs cannot grow it.
  */
class QueriesCacheSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q11, q18, q28, q31, q33: 20 materialized calls each leave the session's cache empty") {
    assume(Files.isDirectory(Paths.get(dir)), s"$dir not present")
    spark.catalog.clearCache()
    Seq("q11_minhash_lsh", "q18_fk_sample_join", "q28_phash_neardup",
      "q31_connected_components", "q33_fk_all_combinations").foreach { q =>
      (1 to 20).foreach { i =>
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        assert(cacheIsEmpty, s"$q call $i")
      }
    }
  }
}
