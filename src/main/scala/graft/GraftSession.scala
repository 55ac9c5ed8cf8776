package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder with the engine's standard configuration.
  *
  * Notable settings:
  *  - `spark.sql.icu.caseMappings.enabled=false`: Spark 4 defaults to ICU
  *    case mappings for UTF8_BINARY; the first non-ASCII `lower()` then
  *    triggers `CollationAwareUTF8String` static init, which loads ICU's CJK
  *    break dictionaries — a measured 10–80 s one-time JVM stall (seen as a
  *    40 s q6 in Bench). JVM case mapping is also what our pure-Scala oracle
  *    (`String.toLowerCase`) and DuckDB's simple casemap compute, so this
  *    setting is both the fast AND the correct-parity choice.
  *  - shuffle.partitions sized to cores (local mode), AQE + skew join on —
  *    at cluster scale AQE coalesces/reshapes these at runtime anyway.
  *  - `spark.hadoop.fs.file.impl` = [[graft.util.NioLocalFileSystem]]: stock
  *    Hadoop without its native library forks a `chmod` for every local
  *    file, `.crc` file and directory a write creates; this one sets the
  *    same modes through java.nio. Like `master`, it is set only when the
  *    launcher did not set the key.
  */
object GraftSession {

  /** `master` is a FALLBACK only: under spark-submit the launcher injects
    * `spark.master` as a system property, and builder options would override
    * it (builder > launcher conf) — round-1 bug: the documented cluster path
    * silently ran local. We set master only when the launcher didn't; the
    * same rule holds for `spark.hadoop.fs.file.impl`.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    if (sys.props.get("spark.master").forall(_.isEmpty)) b.master(master)
    if (sys.props.get("spark.hadoop.fs.file.impl").forall(_.isEmpty))
      b.config("spark.hadoop.fs.file.impl", classOf[graft.util.NioLocalFileSystem].getName)
    b
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // unique managed-table warehouse per SESSION: the in-memory catalog
    // resets on restart but table LOCATIONS persist on disk — a stale
    // spark-warehouse/ dir makes every saveAsTable fail with
    // LOCATION_ALREADY_EXISTS (and litters the repo). Deployments override.
    // The temp dir is created ONLY when no session exists yet (on an existing
    // session getOrCreate ignores builder configs anyway) — creating it per
    // call leaked one empty /tmp dir per builder() in long-lived processes
    // (REST server, test suites).
    // a STOPPED session still occupies the active/default slots (Spark only
    // filters isStopped inside its own getOrCreate) — without the filter, a
    // stop-and-recreate JVM would skip the config and fall back to a stale
    // ./spark-warehouse, resurrecting LOCATION_ALREADY_EXISTS
    if (SparkSession.getActiveSession.filterNot(_.sparkContext.isStopped)
        .orElse(SparkSession.getDefaultSession)
        .forall(_.sparkContext.isStopped))
      b.config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    b
  }

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
