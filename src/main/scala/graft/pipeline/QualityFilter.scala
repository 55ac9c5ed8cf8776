package graft.pipeline

import graft.corpus.ImageRow
import graft.functions.{LangId, Perplexity, Scrubber}
import graft.rules.{Rule, RuleEngine}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Thresholds for the quality rule set — the analog of the reference's
  * per-rule options metadata (`SchemaUtil.scala:540-558`). One instance is
  * THE contract shared by the Spark plan and the pure-Scala oracle.
  */
final case class FilterConfig(
    minCaptionLen: Int = 10,
    maxCaptionLen: Int = 2000,
    minTokens: Int = 3,
    minDistinctTokenRatio: Double = 0.4,
    maxSymbolRatio: Double = 0.30,
    maxCharRun: Int = 6,
    minDim: Int = 16,
    maxDim: Int = 8192,
    maxAspect: Int = 8,
    allowedFormats: Seq[String] = Seq("png", "jpeg", "bmp", "webp"),
    minLangConf: Double = 0.21,
    allowedLangs: Seq[String] = LangId.languages,
    maxPerplexity: Double = 50000.0)

/** The quality-filter stage (north rule): langid + perplexity scoring,
  * declarative heuristic rules compiled to Column expressions, PII/toxicity
  * scrub — one pass, one projection, keep/drop + first-failing-rule reason
  * per row (SURVEY §7.1: replaces the reference's per-rule
  * `where(!expr).count()` loop with a single `select`).
  *
  * [[runDF]] is the only engine path: batch ([[run]]), resume
  * ([[ResumableRunner]]) and streaming
  * ([[graft.streaming.StreamingOps.filterStream]]) all call it. The
  * pure-Scala [[Oracle]] is the independent reference it is checked against.
  */
object QualityFilter {

  /** Field positions inside the fused scorer's tuple result (see [[runDF]]).
    * A plain Tuple8 — NOT a nested case class — because Janino cannot compile
    * the generated accessor call for a case class nested in this object
    * (`QualityFilter$RowScore.lang()` → "No applicable constructor/method
    * found", 1,152 failures per ScaleProbe run in round 1, every task paying
    * an attempted compile + interpreted fallback). Tuple accessors (`_1()`…)
    * compile fine.
    */
  private val scoreFields = Map(
    "lang" -> "_1", "lang_conf" -> "_2", "ppl" -> "_3", "len" -> "_4",
    "ntok" -> "_5", "ndistinct" -> "_6", "symbols" -> "_7", "has_run" -> "_8")

  /** The rule set, in canonical order — part of the oracle contract (the
    * first failing rule is the drop reason). Expressed over the extracted
    * feature struct `__s` (see [[runDF]]): pure numeric comparisons — no
    * regex in the rule evaluation at all.
    */
  private def rules(cfg: FilterConfig): Seq[Rule] = {
    val f = (n: String) => col(s"__s.${scoreFields(n)}")
    Seq(
      Rule("caption_missing", col("caption").isNotNull && f("ntok") > 0),
      Rule("caption_length", f("len").between(cfg.minCaptionLen, cfg.maxCaptionLen)),
      Rule("caption_few_tokens", f("ntok") >= cfg.minTokens),
      Rule("caption_repetitive",
        when(f("ntok") > 0, f("ndistinct").cast("double") / f("ntok").cast("double"))
          >= cfg.minDistinctTokenRatio),
      Rule("caption_symbolic",
        when(f("len") > 0, f("symbols").cast("double") / f("len").cast("double"))
          <= cfg.maxSymbolRatio),
      Rule("caption_char_run", !f("has_run")),
      Rule("image_dims",
        col("w").between(cfg.minDim, cfg.maxDim) && col("h").between(cfg.minDim, cfg.maxDim)),
      Rule("image_aspect",
        greatest(col("w"), col("h")) <= lit(cfg.maxAspect) * least(col("w"), col("h"))),
      Rule("image_fmt", col("fmt").isin(cfg.allowedFormats: _*)),
      Rule("lang_unknown",
        col("lang_conf") >= cfg.minLangConf && col("lang").isin(cfg.allowedLangs: _*)),
      Rule("high_perplexity", col("ppl") <= cfg.maxPerplexity),
    )
  }

  /** Full stage: score → annotate(keep, drop_reason) → scrub kept captions,
    * on the typed corpus (see [[runDF]]).
    */
  def run(spark: SparkSession, input: Dataset[ImageRow], cfg: FilterConfig = FilterConfig()): DataFrame =
    runDF(spark, input.toDF(), cfg)

  /** Same, on an untyped frame with the input_hint schema (the shape coming
    * off an Iceberg/parquet scan — no Encoder round-trip at all). The stage
    * is a stateless projection, so the frame may also be a streaming one.
    *
    * Physical shape (profiled on 2M rows): two narrow UDFs per row — one
    * fused scorer (langid + perplexity + single-scan features) and, for KEPT
    * rows only, one fused single-pass scrubber — wrapped in an otherwise
    * fully codegen'd projection. The earlier all-Column formulation spent
    * ~80% of CPU in ~14 java.util.regex passes per row.
    */
  def runDF(spark: SparkSession, input: DataFrame, cfg: FilterConfig = FilterConfig()): DataFrame = {
    val langIdB = spark.sparkContext.broadcast(LangId)
    val pplB = spark.sparkContext.broadcast(Perplexity)
    val maxRun = cfg.maxCharRun
    // fused per-row scorer: langid + perplexity + single-scan text features.
    // Returns a Tuple8 (see [[scoreFields]] for why not a named case class).
    val scoreUdf = udf { (caption: String) =>
      if (caption == null) null
      else {
        val f = graft.functions.CaptionFeatures.extract(caption, maxRun)
        val (lang, conf) = langIdB.value.predict(caption)
        (lang, conf, pplB.value.score(caption),
          f.len, f.ntok, f.ndistinct, f.symbols, f.has_run)
      }
    }
    val catNames = Scrubber.categoryNames
    val scrubUdf = udf { (caption: String) =>
      val (t, c) = Scrubber.scrubWithCounts(caption)
      (t, catNames.zip(c).toMap)
    }
    val scored = input
      .withColumn("__s", scoreUdf(col("caption")))
      .withColumn("lang", col(s"__s.${scoreFields("lang")}"))
      .withColumn("lang_conf", col(s"__s.${scoreFields("lang_conf")}"))
      .withColumn("ppl", col(s"__s.${scoreFields("ppl")}"))
    RuleEngine.annotate(scored, rules(cfg))
      .withColumn("__sc", when(col(RuleEngine.KeepCol), scrubUdf(col("caption"))))
      .withColumn("scrubbed_caption", col("__sc._1"))
      .withColumn("scrub_counts", col("__sc._2"))
      .drop("__s", "__sc")
  }
}
