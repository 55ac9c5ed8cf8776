package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (see perfbench/README.md). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    out: Path,
    work: Path,
    data: String,
    k: Int,
    tiny: Boolean,
    perturb: String)

/** One block of a pass: a module call under its own Spark job group. */
final case class Block(group: String, name: String, startMs: Long, endMs: Long,
    seconds: Double, timed: Boolean)

/** Per-pass context handed to a workload. `timed` blocks make up the pass
  * time; `check` and `layerTimed` blocks run outside it. Each block runs
  * under its own Spark job group, so in a traced pass the harness listener
  * can split task metrics by block.
  */
final class Pass(val index: Int, val spark: SparkSession, val tracer: Tracer,
    listener: Option[EngineListener]) {
  var seconds = 0.0
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  val blocks = mutable.ArrayBuffer[Block]()
  val layer = mutable.LinkedHashMap[String, Double]()

  def traced: Boolean = listener.isDefined

  private def block[T](name: String, timed: Boolean)(body: => T): (T, Double) = {
    val g = s"p$index:$name"
    spark.sparkContext.setJobGroup(g, name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      spark.sparkContext.clearJobGroup()
      blocks += Block(g, name, ms0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, timed)
    }
  }

  /** Timed call into a module; the time counts toward the pass. */
  def timed[T](name: String)(body: => T): T = {
    val (r, s) = block(name, timed = true)(body)
    seconds += s
    r
  }

  /** Untimed call into a module whose time is kept as layer number `metric`. */
  def layerTimed[T](name: String, metric: String)(body: => T): T = {
    val (r, s) = block(name, timed = false)(body)
    layer(metric) = s
    r
  }

  def check[T](body: => T): T = block("check", timed = false)(body)._1

  /** Spark totals of the last block named `name`; traced passes only. */
  def stats(name: String): Option[GroupStats] =
    for (l <- listener; b <- blocks.findLast(_.name == name))
      yield l.await(spark.sparkContext, b.group)

  /** Wall seconds of the last block named `name`. */
  def secondsOf(name: String): Double =
    blocks.findLast(_.name == name).map(_.seconds).getOrElse(Double.NaN)

  /** One operation attempted: runs `op`, then its output check. An
    * exception or a check that returns messages counts as one failure.
    */
  def operation(label: String)(op: => Seq[String]): Unit = {
    attempted += 1
    val msgs =
      try op
      catch { case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (msgs.nonEmpty) { failed += 1; errors ++= msgs.map(m => s"$label: $m") }
  }
}

trait Workload {
  /** Work units one pass goes through (images, documents). */
  def items: Long
  /** Builds the inputs from the seed in a fresh session. */
  def build(spark: SparkSession): Unit
  /** Computes the reference answers; runs beside the untimed warm-up pass. */
  def oracle(): Unit
  /** One pass: timed calls plus the checks of their outputs. */
  def pass(p: Pass): Unit
  /** Runs after the timed passes, outside every timing. */
  def finish(p: Pass): Unit = ()
}

object Main {
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      out = Paths.get(need("out")),
      work = Paths.get(need("work")).toAbsolutePath,
      data = m.getOrElse("data", ""),
      // one core stays free for the driver thread, JIT and GC: at k = nproc
      // their bursts landed on the timed passes and doubled the spread
      k = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1)),
      tiny = m.get("tiny").contains("1"),
      perturb = m.getOrElse("perturb", "none"))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Old-generation occupancy after the last collection, in MB. */
  private def oldGenAfterGcMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Old generation after a full GC, once Spark's cleaner has dropped the
    * blocks of the pass's unreachable RDDs, which the first GC exposes.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGenAfterGcMb()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      val json = graft.Queries.oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> JString(v) }
      Files.writeString(Paths.get(args(1)), compact(render(JObject(json.toList))))
      return
    }
    val o = parse(args)
    Files.createDirectories(o.work)
    val w: Workload = o.workload match {
      case "filter" => new FilterWorkload(o)
      case "neardup_hot" => new NeardupWorkload(o, "hot")
      case "neardup_sparse" => new NeardupWorkload(o, "sparse")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, repeated in fresh sessions; the first repeat also pays JVM
    // class loading and is reported separately as setup.cold_s. Repeats
    // keep speeding up while the JIT warms, so five are taken and their
    // median is the third, past the steepest part of that curve.
    var spark: SparkSession = null
    val setupReps = (1 to (if (o.tiny) 1 else 5)).map { _ =>
      if (spark != null) {
        spark.stop()
        System.gc()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(o.k)
      spark.sparkContext.setLogLevel("ERROR")
      w.build(spark)
      val s = (System.nanoTime() - t0) / 1e9
      note(f"set-up took $s%.3f s")
      s
    }
    val coldSetup = setupReps.head + (System.currentTimeMillis() - jvmStartMs) / 1000.0 -
      setupReps.sum
    val sc = spark.sparkContext
    val listener = new EngineListener
    val tracer = new Tracer(o.trace)

    // untimed warm-up passes (pass 0) for at least 10 s: JIT, codegen and
    // file caches settle while the reference answers are computed beside
    // them. After 6 s the first timed pass still ran 10-30 % slow.
    val oracle = new Thread(() => w.oracle())
    oracle.start()
    val warm = new Pass(0, spark, new Tracer(false), None)
    val warm0 = System.nanoTime()
    do w.pass(warm) while (!o.tiny && System.nanoTime() - warm0 < 10000000000L)
    oracle.join()
    System.gc()
    note(f"warm-up pass: ${warm.seconds}%.3f s timed")

    // timed passes for `seconds` of wall time; a traced run alternates
    // traced and untraced passes, so the tracing overhead is measured
    // within one run
    val minPasses = if (o.tiny) 1 else if (o.trace) 4 else 3
    val passes = mutable.ArrayBuffer[Pass]()
    var heapPeak = retainedHeapMb()
    val cpu0 = processCpuSeconds()
    val wall0 = System.nanoTime()
    var gcInPasses = 0.0
    while (passes.size < minPasses || (System.nanoTime() - wall0) / 1e9 < o.seconds) {
      val traced = o.trace && passes.size % 2 == 0
      if (traced) sc.addSparkListener(listener)
      val p = new Pass(passes.size + 1, spark, if (traced) tracer else new Tracer(false),
        if (traced) Some(listener) else None)
      val gc0 = gcSeconds()
      p.tracer.span(s"pass ${p.index}")(w.pass(p))
      gcInPasses += gcSeconds() - gc0
      if (traced) {
        p.blocks.foreach(b => listener.await(sc, b.group))
        sc.removeSparkListener(listener)
      }
      passes += p
      heapPeak = math.max(heapPeak, retainedHeapMb())
      note(f"pass ${p.index}: ${p.seconds}%.3f s timed${if (traced) ", traced" else ""}")
    }
    val loopWall = (System.nanoTime() - wall0) / 1e9
    val cpuRatio = (processCpuSeconds() - cpu0) / loopWall
    if (o.trace) sc.addSparkListener(listener)
    val fin = new Pass(passes.size + 1, spark, tracer, if (o.trace) Some(listener) else None)
    tracer.span("finish")(w.finish(fin))
    note("checks done")

    val all = warm +: passes.toSeq :+ fin
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val (tracedPasses, plainPasses) = passes.toSeq.partition(_.traced)
    // pass time = sum over the timed calls of each call's median across
    // passes, so a stall in one call of one pass does not move it
    def passSeconds(ps: Seq[Pass]): Double =
      ps.flatMap(_.blocks.filter(_.timed)).groupBy(_.name).values
        .map(bs => median(bs.map(_.seconds))).sum
    val passS = passSeconds(if (plainPasses.nonEmpty) plainPasses else tracedPasses)

    val endToEnd = Map(
      "setup_s" -> median(setupReps),
      "pass_s" -> passS,
      "items_per_s" -> w.items / passS,
      "peak_heap_mb" -> heapPeak)

    // per-layer numbers: medians over the traced passes, Spark totals over
    // their timed blocks only
    val perLayer = mutable.LinkedHashMap[String, Double]()
    if (o.trace) {
      perLayer ++= FunctionsProbe.run(o.seed, if (o.tiny) 500 else 4000)
      val timedStats = tracedPasses.map { p =>
        p.blocks.toSeq.filter(_.timed).map(b => (b, listener.await(sc, b.group)))
      }
      def med(f: Seq[(Block, GroupStats)] => Double): Double = median(timedStats.map(f))
      perLayer("spark.jobs") = med(_.map(_._2.jobs).sum.toDouble)
      perLayer("spark.stages") = med(_.map(_._2.stages).sum.toDouble)
      perLayer("spark.tasks") = med(_.map(_._2.tasks).sum.toDouble)
      perLayer("spark.exec_run_s") = med(_.map(_._2.runMs).sum / 1000.0)
      perLayer("spark.exec_cpu_s") = med(_.map(_._2.cpuNs).sum / 1e9)
      perLayer("spark.shuffle_write_mb") = med(_.map(_._2.shuffleWrite).sum / 1048576.0)
      perLayer("spark.shuffle_read_mb") = med(_.map(_._2.shuffleRead).sum / 1048576.0)
      perLayer("spark.spill_mb") = med(_.map(_._2.spill).sum / 1048576.0)
      perLayer("spark.task_skew") = med(_.map(_._2.taskSkew).max)
      perLayer("spark.driver_gap_s") =
        med(_.map { case (b, g) => g.gapMs(b.startMs, b.endMs) }.sum / 1000.0)
      perLayer("pass.traced_s") = passSeconds(tracedPasses)
      perLayer("trace.overhead_pct") = 100.0 * (perLayer("pass.traced_s") / passS - 1.0)
      perLayer("pass.warmup_s") = warm.seconds
      perLayer("setup.cold_s") = coldSetup
    }
    // workload-specific layer numbers: medians over the passes that have
    // them. GC time is kept here, not as a per-layer metric: with a 3 GB
    // heap a pass often collects nothing, and a time that always reads 0
    // carries no signal.
    val withLayers = passes.toSeq :+ fin
    val layers = withLayers.flatMap(_.layer.keys).distinct
      .map(key => key -> median(withLayers.flatMap(_.layer.get(key)))) :+
      ("jvm.gc_s" -> gcInPasses / passes.size)

    val nproc = Runtime.getRuntime.availableProcessors()
    val health = JObject(
      "k" -> JInt(o.k), "nproc" -> JInt(nproc), "cpu_wall_ratio" -> JDouble(cpuRatio))
    def num(m: Iterable[(String, Double)]) = JObject(m.map { case (k, v) => k -> JDouble(v) }.toList)
    val result = JObject(
      "workload" -> JString(o.workload), "seed" -> JInt(o.seed), "trace" -> JBool(o.trace),
      "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "errors" -> JArray(all.flatMap(_.errors).take(50).map(JString(_)).toList),
      "end_to_end" -> num(endToEnd), "per_layer" -> num(perLayer), "layers" -> num(layers),
      "setup_reps_s" -> JArray(setupReps.map(JDouble(_)).toList),
      "pass_s" -> JArray(passes.map(p => JDouble(p.seconds)).toList),
      "pass_traced" -> JArray(passes.map(p => JBool(p.traced)).toList),
      "health" -> health)
    Files.writeString(o.out, pretty(render(result)))
    if (o.trace) writeSpans(o, tracer)
    spark.stop()
    note("stopped")
  }

  private def writeSpans(o: Opts, tracer: Tracer): Unit = {
    val runId = s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}"
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = tracer.spans.map { s =>
      JObject("run" -> JString(runId), "id" -> JInt(s.id), "parent" -> JInt(s.parent),
        "name" -> JString(s.name), "start_s" -> JDouble((s.startNs - t0) / 1e9),
        "end_s" -> JDouble((s.endNs - t0) / 1e9))
    }
    val path = o.work.resolve(s"spans-${o.workload}-seed${o.seed}.json")
    Files.writeString(path, compact(render(JArray(spans.toList))))
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench $up%7.2f s] $msg")
  }

}
