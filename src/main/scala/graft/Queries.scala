package graft

import graft.functions.{Scrubber, TextFunctions => TF}
import graft.rules.{Rule, RuleEngine}
import graft.util.Chars.isRegexSpace
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Operator queries over the driver's parquet tables, each with a
  * DuckDB-portable oracle SQL twin. Column names are aliased identically on
  * both sides (the driver hash-compares after sorting columns by name).
  * Regex/text semantics are restricted to the Java-regex ∩ RE2 common subset
  * so both engines compute the same thing.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- q1: aggregation (rule-engine groupBy validation substrate;
  //          SURVEY §2.5). Money is summed as EXACT INTEGER CENTS: decimal
  //          outputs hash-mismatched across engines for two rounds even with
  //          pinned precision (Spark's parquet decimal encoding vs DuckDB's),
  //          while int64 hashes identically (proved by the q23 hugeint fix).
  //          Per-row double→decimal(18,2)→×100→bigint is exact in both. ----
  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("bigint")

  private def q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        count(lit(1)).as("cnt"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  cast(sum(cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)) as bigint) AS sum_qty_cents,
      |  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)) as bigint) AS sum_price_cents,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- q2: declarative quality rules → keep/drop_reason in one projection
  //          (the keep/drop kernel, SURVEY §2.4) ----
  /** q2's five text features in ONE JIT'd scan (the Column rules re-split /
    * re-regexed the text per rule — interpreted array lambdas + a regex
    * pass, ~2.3 s per 50k docs under noop). Field semantics mirror the
    * Column forms EXACTLY (fuzz-pinned by RulesSpec):
    * _1 length(trim(text)) > 0  — trim strips 0x20 only, so true iff any
    *    code point != ' ';
    * _2 length(text) — CODE POINTS (Spark's numChars);
    * _3/_4 token/distinct-token count — java-regex \s runs, empties dropped;
    * _5 symbol count — code points outside [A-Za-z0-9 \t\n\r] (note \x0B
    *    and \f ARE symbols), i.e. length(text) − length(regexp_replace).
    * Null text → null struct → null fields (rules coalesce to false).
    */
  private[graft] val q2Features = udf { (text: String) =>
    if (text == null) null
    else {
      var nchar = 0L; var nsym = 0L; var ntok = 0L
      var trimNonEmpty = false
      val distinct = new java.util.HashSet[String]()
      val n = text.length
      var i = 0
      var tokStart = -1
      while (i < n) {
        val cp = text.codePointAt(i)
        nchar += 1
        if (cp != ' '.toInt) trimNonEmpty = true
        val allowed = (cp >= 'A'.toInt && cp <= 'Z'.toInt) ||
          (cp >= 'a'.toInt && cp <= 'z'.toInt) ||
          (cp >= '0'.toInt && cp <= '9'.toInt) ||
          cp == ' '.toInt || cp == '\t'.toInt || cp == '\n'.toInt || cp == '\r'.toInt
        if (!allowed) nsym += 1
        if (isRegexSpace(cp)) {
          if (tokStart >= 0) { ntok += 1; distinct.add(text.substring(tokStart, i)); tokStart = -1 }
        } else if (tokStart < 0) tokStart = i
        i += Character.charCount(cp)
      }
      if (tokStart >= 0) { ntok += 1; distinct.add(text.substring(tokStart, n)) }
      (trimNonEmpty, nchar, ntok, distinct.size.toLong, nsym)
    }
  }

  /** The q2 rule set over the feature struct — predicates identical to the
    * Column-expression forms they replace (same when() null semantics). */
  private[graft] def q2Rules(textCol: Column, f: Column): Seq[Rule] = {
    val tne = f.getField("_1")
    val nchar = f.getField("_2")
    val ntok = f.getField("_3")
    val ndis = f.getField("_4")
    val nsym = f.getField("_5")
    Seq(
      Rule("text_missing", textCol.isNotNull && tne),
      Rule("text_length", nchar.between(50, 400)),
      Rule("few_tokens", ntok >= 8),
      Rule("repetitive",
        when(ntok > 0, ndis.cast("double") / ntok.cast("double")) >= 0.3),
      Rule("symbolic",
        when(nchar > 0, nsym.cast("double") / nchar.cast("double")) <= 0.2))
  }

  private def q2(s: SparkSession, dir: String): DataFrame =
    RuleEngine.annotate(
      t(s, dir, "documents").withColumn("__f", q2Features(col("text"))),
      q2Rules(col("text"), col("__f")))
      .select(col("doc_id"), col("drop_reason"), col("keep"))

  private val q2Sql =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS ntok,
      |    len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0))) AS ndis,
      |    length(text) AS nchar,
      |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\r]', '', 'g')) AS nsym
      |  FROM documents),
      |reasons AS (
      |  SELECT doc_id,
      |    CASE
      |      WHEN NOT coalesce(text IS NOT NULL AND length(trim(text)) > 0, FALSE) THEN 'text_missing'
      |      WHEN NOT coalesce(nchar BETWEEN 50 AND 400, FALSE) THEN 'text_length'
      |      WHEN NOT coalesce(ntok >= 8, FALSE) THEN 'few_tokens'
      |      WHEN NOT coalesce(CASE WHEN ntok > 0 THEN ndis * 1.0 / ntok END >= 0.3, FALSE) THEN 'repetitive'
      |      WHEN NOT coalesce(CASE WHEN nchar > 0 THEN nsym * 1.0 / nchar END <= 0.2, FALSE) THEN 'symbolic'
      |    END AS drop_reason
      |  FROM toks)
      |SELECT doc_id, drop_reason, drop_reason IS NULL AS keep FROM reasons""".stripMargin

  // ---- q3: PII/toxicity scrub chain with planted entities (SURVEY §7.1;
  //          counts staged exactly like Scrubber.scrubCountsScala) ----
  private def plantedCol: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(pmod(id, lit(7)) === 0,
        concat(lit(" contact u"), id.cast("string"), lit("@example.com now")))
        .when(pmod(id, lit(7)) === 1,
          concat(lit(" call +1 555-123-"), lpad(pmod(id, lit(9000)).cast("string") , 4, "0")))
        .when(pmod(id, lit(7)) === 2,
          concat(lit(" ssn 123-45-"), lpad(pmod(id, lit(9000)).cast("string"), 4, "0")))
        .when(pmod(id, lit(7)) === 3, lit(" badword content"))
        .otherwise(lit("")))
  }

  private def q3(s: SparkSession, dir: String): DataFrame = {
    val aug = plantedCol
    // ONE fused matcher sweep per category (scrubWithCounts — fuzz-verified
    // identical to scrubScala + scrubCountsScala by CaptionFeaturesSpec)
    // instead of ~12 regexp passes per row across the scrub chain + four
    // staged count chains; null text → null struct → null outputs, matching
    // scrub(null)
    val scrubUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val (t, c) = Scrubber.scrubWithCounts(text)
        (t, c(0).toLong, c(1).toLong, c(2).toLong, c(3).toLong)
      }
    }
    t(s, dir, "documents")
      .withColumn("__sc", scrubUdf(aug))
      .select(
        col("doc_id"),
        col("__sc._1").as("scrubbed"),
        col("__sc._2").as("n_email"),
        col("__sc._3").as("n_ssn"),
        col("__sc._4").as("n_phone"),
        col("__sc._5").as("n_lexicon"))
  }

  private val q3Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
    val phone = "\\+?[0-9]{0,2}[ .-]?\\([0-9]{3}\\)[ .-]?[0-9]{3}[ .-]?[0-9]{4}|\\+[0-9]{1,2}[ .-]?[0-9]{3}[ .-]?[0-9]{3}[ .-]?[0-9]{4}|\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val lex = "(?i)\\b(badword|slurx|cursez|vulgarq)\\b"
    s"""WITH aug AS (
       |  SELECT doc_id, text ||
       |    CASE
       |      WHEN doc_id % 7 = 0 THEN ' contact u' || cast(doc_id AS varchar) || '@example.com now'
       |      WHEN doc_id % 7 = 1 THEN ' call +1 555-123-' || lpad(cast(doc_id % 9000 AS varchar), 4, '0')
       |      WHEN doc_id % 7 = 2 THEN ' ssn 123-45-' || lpad(cast(doc_id % 9000 AS varchar), 4, '0')
       |      WHEN doc_id % 7 = 3 THEN ' badword content'
       |      ELSE ''
       |    END AS aug
       |  FROM documents),
       |s1 AS (SELECT doc_id, aug AS t0, len(regexp_extract_all(aug, '$email')) AS n_email,
       |         regexp_replace(aug, '$email', '[EMAIL]', 'g') AS t1 FROM aug),
       |s2 AS (SELECT *, len(regexp_extract_all(t1, '$ssn')) AS n_ssn,
       |         regexp_replace(t1, '$ssn', '[SSN]', 'g') AS t2 FROM s1),
       |s3 AS (SELECT *, len(regexp_extract_all(t2, '$phone')) AS n_phone,
       |         regexp_replace(t2, '$phone', '[PHONE]', 'g') AS t3 FROM s2),
       |s4 AS (SELECT *, len(regexp_extract_all(t3, '$lex')) AS n_lexicon,
       |         regexp_replace(t3, '$lex', '[CENSORED]', 'g') AS t4 FROM s3)
       |SELECT doc_id, t4 AS scrubbed, n_email, n_ssn, n_phone, n_lexicon FROM s4""".stripMargin
  }

  // ---- q4: join + broadcast dim + agg (SURVEY §2.3) ----
  private def q4(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        // exact integer cents on both sides (see q1)
        sum(cents(col("o_totalprice"))).as("revenue_cents"),
        count(lit(1)).as("n_orders"))

  private val q4Sql =
    """SELECT n_name,
      |  cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint) AS revenue_cents,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  // ---- q5: window / monotonicity violations (SURVEY §2.6; distributed
  //          window — partitioned by user, never a global orderBy) ----
  private def q5(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .where(col("prev_value").isNotNull && col("value") < col("prev_value"))
      .select(col("event_id"), col("user_id"))
  }

  private val q5Sql =
    """SELECT event_id, user_id FROM (
      |  SELECT event_id, user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      |  FROM events)
      |WHERE prev_value IS NOT NULL AND value < prev_value""".stripMargin

  // ---- q6: exact dedup via portable fingerprint → survivor per group
  //          (SURVEY §2.5 unique-field dedup) ----
  private def normalizedSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  private def q6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(TF.normalized(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("dup_count"))
      .select(col("survivor_id"), col("dup_count"))

  private val q6Sql =
    s"""SELECT min(doc_id) AS survivor_id, count(*) AS dup_count
       |FROM documents GROUP BY md5($normalizedSql)""".stripMargin

  // ---- q7: token statistics (text analysis; integers only — no float
  //          hashing hazards) ----
  private def q7(s: SparkSession, dir: String): DataFrame = {
    // one JIT'd tokenization pass for all three stats: the Column form ran
    // three interpreted array pipelines (split ×3 via subexpr reuse limits,
    // array_distinct, per-token aggregate fold). Same tokenizer contract
    // (java-regex \s runs, empties dropped — NO lowercasing here, matching
    // TF.tokens(col) on raw text); length() counts CODE POINTS like Spark's;
    // null text → null struct → null stats, like size(null)/aggregate(null).
    val statsUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val n = text.length
        var ntok = 0L
        var sumLen = 0L
        val distinct = new java.util.HashSet[String]()
        var i = 0
        while (i < n) {
          while (i < n && isRegexSpace(text.charAt(i))) i += 1
          val st = i
          while (i < n && !isRegexSpace(text.charAt(i))) i += 1
          if (i > st) {
            val tok = text.substring(st, i)
            ntok += 1
            sumLen += tok.codePointCount(0, tok.length)
            distinct.add(tok)
          }
        }
        (ntok, distinct.size.toLong, sumLen)
      }
    }
    t(s, dir, "documents")
      .withColumn("__t", statsUdf(col("text")))
      .select(
        col("doc_id"),
        col("__t._1").as("n_tokens"),
        col("__t._2").as("n_distinct"),
        col("__t._3").as("sum_token_len"))
  }

  private val q7Sql =
    """SELECT doc_id,
      |  cast(len(toks) AS bigint) AS n_tokens,
      |  cast(len(list_distinct(toks)) AS bigint) AS n_distinct,
      |  cast(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS bigint) AS sum_token_len
      |FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS toks
      |      FROM documents)""".stripMargin

  // ---- q8: document fingerprinting (md5-based — portable across engines,
  //          unlike xxhash64) ----
  private def q8(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TF.fingerprint(col("text")).as("fp16"))

  private val q8Sql =
    s"""SELECT doc_id, substring(md5($normalizedSql), 1, 16) AS fp16
       |FROM documents""".stripMargin

  // ---- q9: language-ID n-gram/stopword heuristic (SQL-expressible twin of
  //          the fastText-style model; argmax with canonical tiebreak) ----
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "with", "is"),
    "es" -> Seq("el", "la", "que", "por", "con"),
    "fr" -> Seq("le", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "不"))

  private def q9(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    // all five marker counts in ONE tokenization pass (JIT'd UDF): five
    // per-language marker Columns each re-split and re-filtered the text
    // through interpreted array lambdas — 5× the tokenization for the same
    // counts. Tokenizer contract identical (lowercase, java-regex
    // \s runs, empties dropped); null text → null struct → null hits,
    // exactly like size(filter(split(null))). Counts unchanged.
    val sets: Array[Set[String]] = langMarkers.map(_._2.toSet).toArray
    val hitsUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val cs = new Array[Long](5)
        val str = text.toLowerCase
        val n = str.length
        var i = 0
        while (i < n) {
          while (i < n && (str.charAt(i) == ' ' || str.charAt(i) == '\t' ||
            str.charAt(i) == '\n' || str.charAt(i) == 11.toChar ||
            str.charAt(i) == '\f' || str.charAt(i) == '\r')) i += 1
          val st = i
          while (i < n && !(str.charAt(i) == ' ' || str.charAt(i) == '\t' ||
            str.charAt(i) == '\n' || str.charAt(i) == 11.toChar ||
            str.charAt(i) == '\f' || str.charAt(i) == '\r')) i += 1
          if (i > st) {
            val tok = str.substring(st, i)
            var l = 0
            while (l < 5) { if (sets(l).contains(tok)) cs(l) += 1; l += 1 }
          }
        }
        (cs(0), cs(1), cs(2), cs(3), cs(4))
      }
    }
    val df = base
      .withColumn("__h", hitsUdf(col("text")))
      .select(col("doc_id") +: langMarkers.zipWithIndex.map { case ((lang, _), i) =>
        col(s"__h._${i + 1}").as(s"hits_$lang")
      }: _*)
    val h = langMarkers.map { case (l, _) => col(s"hits_$l") }
    val guess = when(h(0) >= h(1) && h(0) >= h(2) && h(0) >= h(3) && h(0) >= h(4), "en")
      .when(h(1) >= h(2) && h(1) >= h(3) && h(1) >= h(4), "es")
      .when(h(2) >= h(3) && h(2) >= h(4), "fr")
      .when(h(3) >= h(4), "de")
      .otherwise("zh")
    df.withColumn("guess", guess)
  }

  private val q9Sql = {
    def hits(ms: Seq[String]) =
      s"cast(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0), x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS bigint)"
    val cols = langMarkers.map { case (l, ms) => s"${hits(ms)} AS hits_$l" }.mkString(",\n  ")
    s"""WITH h AS (SELECT doc_id, $cols FROM documents)
       |SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, hits_zh,
       |  CASE
       |    WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_zh THEN 'en'
       |    WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es >= hits_zh THEN 'es'
       |    WHEN hits_fr >= hits_de AND hits_fr >= hits_zh THEN 'fr'
       |    WHEN hits_de >= hits_zh THEN 'de'
       |    ELSE 'zh'
       |  END AS guess
       |FROM h""".stripMargin
  }

  // ---- q10: brute-force cosine top-k similarity search over embeddings
  //          (broadcast query side — the baseline ANN path) ----
  private def q10(s: SparkSession, dir: String): DataFrame = {
    // native codegen'd vector_cosine (graft.plans.VectorCosine) — the HOF
    // aggregate/zip_with formulation it replaced is interpreted per element
    // and was the slowest non-LSH query in round 1 (3.1 s → sub-second).
    // Bit-identical accumulation order, so the oracle SQL is unchanged.
    val e = t(s, dir, "embeddings")
    val qs = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cs = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    graft.similarity.Similarity.bruteForceTopK(qs, cs, k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("bigint").as("rnk"))
  }

  private val q10Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
      |p AS (SELECT query_id, neighbor_id,
      |        list_inner_product(qe, ce) / sqrt(list_inner_product(qe, qe) * list_inner_product(ce, ce)) AS sim
      |      FROM c, q WHERE neighbor_id <> query_id),
      |r AS (SELECT query_id, neighbor_id,
      |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |      FROM p)
      |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 10""".stripMargin

  // DuckDB twin of TF.normalized → token list
  private val duckToks =
    "list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), x -> len(x) > 0)"

  // ---- q11: MinHash + LSH near-dup candidates (band buckets paired by the
  //          BucketPairs kernel — the O(n²) all-pairs never materializes) ----
  private def q11(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.minhashCandidates(
      t(s, dir, "documents"), "text", "doc_id",
      k = 16, shingleN = 2, bands = 4, minEqual = 8, maxBucket = 500)

  private val q11Sql = {
    // 32-bit base value from md5's first 8 hex chars, by ascii arithmetic
    // (DuckDB has no hex→int cast); matches Dedup.minhashScala exactly
    val hv = (i: Int) =>
      s"(CASE WHEN ascii(substring(md5(x),$i,1)) <= 57 THEN ascii(substring(md5(x),$i,1)) - 48 ELSE ascii(substring(md5(x),$i,1)) - 87 END)"
    val v8 = (1 to 8).map(i => s"${hv(i)} * cast(${1L << (4 * (8 - i))} AS bigint)").mkString(" + ")
    val sigBands = (0 until 4).map { b =>
      (1 to 4).map(i => s"cast(sg[${4 * b + i}] AS varchar)").mkString(" || '|' || ")
    }
    val aList = (0 until 16).map(graft.dedup.Dedup.minhashA).mkString("[", ",", "]")
    val bList = (0 until 16).map(graft.dedup.Dedup.minhashB).mkString("[", ",", "]")
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |sh AS (SELECT doc_id,
       |         list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS s
       |       FROM toks WHERE len(t) >= 2),
       |vs AS (SELECT doc_id, list_transform(s, x -> ($v8) % 2147483647) AS v FROM sh),
       |sig AS (SELECT doc_id,
       |          list_transform(generate_series(0, 15),
       |            j -> list_min(list_transform(v,
       |              w -> (($aList)[j+1] * w + ($bList)[j+1]) % 2147483647))) AS sg
       |        FROM vs),
       |banded AS (SELECT doc_id, sg, r.b AS band,
       |             md5(CASE r.b WHEN 0 THEN ${sigBands(0)} WHEN 1 THEN ${sigBands(1)}
       |                          WHEN 2 THEN ${sigBands(2)} ELSE ${sigBands(3)} END) AS bkey
       |           FROM sig CROSS JOIN range(0, 4) r(b)),
       |capped AS (SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 500),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |          FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
       |          WHERE a.doc_id < b.doc_id),
       |j AS (SELECT a_id, b_id, sa.sg AS a_sg, sb.sg AS b_sg
       |      FROM pairs JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id,
       |  cast(list_sum(list_transform(generate_series(1, 16),
       |    i -> CASE WHEN a_sg[i] = b_sg[i] THEN 1 ELSE 0 END)) AS int) AS n_equal
       |FROM j
       |WHERE list_sum(list_transform(generate_series(1, 16),
       |    i -> CASE WHEN a_sg[i] = b_sg[i] THEN 1 ELSE 0 END)) >= 8""".stripMargin
  }

  // ---- q12: SimHash fingerprint (portable 16-bit variant) ----
  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      graft.dedup.Dedup.simhash16(col("text")).cast("int").as("simhash"))

  private val q12Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |h AS (SELECT doc_id, t,
       |  list_transform(t, x ->
       |    (CASE WHEN ascii(substring(md5(x),1,1)) <= 57 THEN ascii(substring(md5(x),1,1)) - 48 ELSE ascii(substring(md5(x),1,1)) - 87 END) * 4096 +
       |    (CASE WHEN ascii(substring(md5(x),2,1)) <= 57 THEN ascii(substring(md5(x),2,1)) - 48 ELSE ascii(substring(md5(x),2,1)) - 87 END) * 256 +
       |    (CASE WHEN ascii(substring(md5(x),3,1)) <= 57 THEN ascii(substring(md5(x),3,1)) - 48 ELSE ascii(substring(md5(x),3,1)) - 87 END) * 16 +
       |    (CASE WHEN ascii(substring(md5(x),4,1)) <= 57 THEN ascii(substring(md5(x),4,1)) - 48 ELSE ascii(substring(md5(x),4,1)) - 87 END)) AS hs
       |  FROM toks)
       |SELECT doc_id,
       |  CASE WHEN len(t) > 0 THEN cast(list_sum(list_transform(generate_series(0, 15), b ->
       |    CASE WHEN list_sum(list_transform(hs, v ->
       |      CASE WHEN cast(floor(v / power(2, b)) AS bigint) % 2 = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN cast(power(2, b) AS int) ELSE 0 END)) AS int) END AS simhash
       |FROM h""".stripMargin

  // ---- q13: blocked n-gram Jaccard pairs sharing at least one token ----
  private def q13(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.jaccardPairs(
      t(s, dir, "documents"), "text", "doc_id",
      floor(col("doc_id") / 40.0).cast("int"))
      .withColumn("n_inter", col("n_inter").cast("bigint"))
      .withColumn("n_union", col("n_union").cast("bigint"))

  private val q13Sql =
    s"""WITH base AS (SELECT doc_id, cast(floor(doc_id / 40.0) AS int) AS block,
       |                list_distinct($duckToks) AS toks
       |              FROM documents)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS n_inter,
       |  len(list_distinct(list_concat(a.toks, b.toks))) AS n_union
       |FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
       |WHERE len(list_filter(a.toks, x -> list_contains(b.toks, x))) >= 1""".stripMargin

  // ---- q14: embedding-cosine near-dup pairs (blocked by label) ----
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label").as("block"))
    graft.similarity.Similarity.nearDupPairs(e, threshold = 0.25)
      .select(col("a_id"), col("b_id"))
  }

  private val q14Sql =
    """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec, label AS block FROM embeddings)
      |SELECT a.id AS a_id, b.id AS b_id
      |FROM e a JOIN e b ON a.block = b.block AND a.id < b.id
      |WHERE list_inner_product(a.vec, b.vec) /
      |      sqrt(list_inner_product(a.vec, a.vec) * list_inner_product(b.vec, b.vec)) >= 0.25""".stripMargin

  // ---- q15: groupBy validation — violating groups (SURVEY §2.5).
  //          Sums integer cents (see q1): threshold 150 units = 15000 cents. ----
  private def q15(s: SparkSession, dir: String): DataFrame =
    graft.rules.GroupRules.groupByValidation(
      t(s, dir, "lineitem").withColumn("qty_cents", cents(col("l_quantity"))),
      Seq("l_orderkey"), "qty_cents", "sum", _ <= 15000)

  private val q15Sql =
    """SELECT l_orderkey,
      |  cast(sum(cast(cast(l_quantity AS decimal(18,2)) * 100 as bigint)) AS bigint) AS sum_qty_cents
      |FROM lineitem GROUP BY l_orderkey
      |HAVING NOT coalesce(sum(cast(cast(l_quantity AS decimal(18,2)) * 100 as bigint)) <= 15000, FALSE)""".stripMargin

  // ---- q16: uniqueness validation — duplicate groups ----
  private def q16(s: SparkSession, dir: String): DataFrame =
    graft.rules.GroupRules.duplicateGroups(t(s, dir, "orders"), Seq("o_custkey"))

  private val q16Sql =
    """SELECT o_custkey, count(*) AS group_count
      |FROM orders GROUP BY o_custkey HAVING count(*) > 1""".stripMargin

  // ---- q17: per-group overflow anti-join (UniqueFieldsUtil.scala:69-85) ----
  private def q17(s: SparkSession, dir: String): DataFrame =
    graft.rules.GroupRules.dropOverflowGroups(t(s, dir, "lineitem"), Seq("l_orderkey"), 3)
      .select(col("l_orderkey"), col("l_linenumber"))

  private val q17Sql =
    """SELECT l_orderkey, l_linenumber FROM lineitem
      |WHERE l_orderkey NOT IN
      |  (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) > 3)""".stripMargin

  // ---- q18: FK distributed-sampling join: broadcast indexed lookup,
  //          row-identity-keyed assignment (DistributedSamplingStrategy) ----
  /** One-scan bounded lookup build shared by q18/q33: contiguous ordered
    * index on the SMALL (lookup) side only, built from a sorted key array
    * instead of a global row_number window — map-side partial collect_SET
    * (dedup inside the aggregation), one tiny merged row, no
    * single-partition sort of row data, and ONE pass over the table (the
    * earlier distinct().count() + distinct().agg(collect_list) shape
    * scanned and shuffled it twice). The array is collected and indexed as
    * a local relation: the lookup is broadcast anyway, so it is held in
    * full either way, and nothing is persisted.
    *
    * Null parity: collect_set DROPS a NULL key that the oracle's SELECT
    * DISTINCT keeps, so a null flag from the same aggregation re-appends it
    * — at the END, matching DuckDB's default NULLS LAST in the oracle's
    * row_number(ORDER BY key) (Spark's sort_array puts nulls FIRST, which
    * is why the null can't just ride through the sort).
    *
    * Guard ordering: a metadata-cheap row count bounds the distinct count
    * from above BEFORE the single-buffer collect_set materializes; only a
    * table past the bound pays a distributed distinct count to fail (or
    * pass) loudly — without this, an oversized lookup side would OOM inside
    * the collect_set before the require could fire.
    *
    * Returns (lookup frame of (idx, <keyCol>), n = lookup size).
    */
  private[graft] def boundedLookup(df: DataFrame, keyCol: String,
      cap: Long, qname: String): (DataFrame, Long) = {
    // count_distinct ignores NULL, but the lookup keeps a NULL key as one
    // more slot: count it here too, so this guard and the require on n
    // below agree at the cap boundary
    if (df.count() > cap)
      require(df.select(count_distinct(col(keyCol)) + max(col(keyCol).isNull).cast("long"))
        .head().getLong(0) <= cap, s"$qname lookup side unexpectedly large")
    // the appended null carries the key column's OWN type (from the schema,
    // not a hand-written string that could drift from the parquet and
    // silently coerce the whole key array)
    val keyType = df.schema(keyCol).dataType
    val keys = df
      .agg(sort_array(collect_set(col(keyCol))).as("__k0"),
        max(col(keyCol).isNull).as("__kn"))
      .select(when(col("__kn"), array_append(col("__k0"), lit(null).cast(keyType)))
        .otherwise(col("__k0")))
      .head().getSeq[Any](0)
    val n = keys.length.toLong
    require(n <= cap, s"$qname lookup side unexpectedly large: $n")
    val lookup = df.sparkSession.createDataFrame(
      keys.zipWithIndex.map { case (k, i) => Row(i.toLong, k) }.asJava,
      StructType(Seq(StructField("idx", LongType, nullable = false), StructField(keyCol, keyType))))
    (lookup, n)
  }

  private def q18(s: SparkSession, dir: String): DataFrame = {
    // the big side gets its index from row identity, never a global window
    val (lookup, n) =
      boundedLookup(t(s, dir, "customer"), "c_custkey", 10000000L, "q18")
    t(s, dir, "orders")
      .withColumn("idx", pmod(col("o_orderkey"), lit(n)))
      .join(broadcast(lookup), Seq("idx"))
      .select(col("o_orderkey"), col("c_custkey").as("assigned_custkey"))
  }

  private val q18Sql =
    """WITH ck AS (SELECT DISTINCT c_custkey FROM customer),
      |l AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS idx FROM ck),
      |n AS (SELECT count(*) AS cnt FROM ck)
      |SELECT o_orderkey, l.c_custkey AS assigned_custkey
      |FROM orders CROSS JOIN n JOIN l ON (o_orderkey % n.cnt) = l.idx""".stripMargin

  // ---- q19: per-field-count fan-out via explode(sequence) ----
  private def q19(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      explode(sequence(lit(1L), lit(1L) + pmod(col("o_orderkey"), lit(3L)))).as("seq_idx"))

  private val q19Sql =
    """SELECT o_orderkey, unnest(generate_series(1, 1 + o_orderkey % 3)) AS seq_idx
      |FROM orders""".stripMargin

  // ---- q20: all-combinations cross join (DataGeneratorFactory:102-127).
  //          Both lineitem value sets come out of ONE scan (collect_set =
  //          distinct, map-side partial) instead of two separate
  //          distinct-shuffled scans; exploding the two tiny sets rebuilds
  //          the identical cross product ----
  private def q20(s: SparkSession, dir: String): DataFrame = {
    // collect_set DROPS nulls where SELECT DISTINCT keeps one — a null flag
    // per column re-appends the null element so the one-scan shape stays
    // byte-equivalent to the oracle's DISTINCT even on null-bearing data
    // (max over zero rows is null → otherwise-branch → empty set, matching).
    // The appended null carries the flag column's own type, as in
    // boundedLookup.
    val lineitem = t(s, dir, "lineitem")
    def withNull(set: String, flag: String, c: String): Column =
      when(col(flag), array_append(col(set), lit(null).cast(lineitem.schema(c).dataType)))
        .otherwise(col(set))
    lineitem
      .agg(collect_set(col("l_returnflag")).as("__rfs"),
        max(col("l_returnflag").isNull).as("__rfn"),
        collect_set(col("l_linestatus")).as("__lss"),
        max(col("l_linestatus").isNull).as("__lsn"))
      .select(explode(withNull("__rfs", "__rfn", "l_returnflag")).as("l_returnflag"),
        col("__lss"), col("__lsn"))
      .select(col("l_returnflag"),
        explode(withNull("__lss", "__lsn", "l_linestatus")).as("l_linestatus"))
      .crossJoin(t(s, dir, "region").select(col("r_name")).distinct())
  }

  private val q20Sql =
    """SELECT l_returnflag, l_linestatus, r_name
      |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
      |CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem)
      |CROSS JOIN (SELECT DISTINCT r_name FROM region)""".stripMargin

  // ---- q21: upstream validation anti-join (customers with no urgent
  //          orders — ValidationOperations.scala:181-224 join validation) ----
  private def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))

  private val q21Sql =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin

  // ---- q22: dataset-level stats — quantiles + distinct proportion ----
  private def q22(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").agg(
      round(expr("percentile(p_size, 0.25)"), 6).as("p25"),
      round(expr("percentile(p_size, 0.5)"), 6).as("p50"),
      round(expr("percentile(p_size, 0.75)"), 6).as("p75"),
      count_distinct(col("p_brand")).as("n_brands"),
      count(lit(1)).as("n_rows"))

  private val q22Sql =
    """SELECT round(quantile_cont(p_size, 0.25), 6) AS p25,
      |  round(quantile_cont(p_size, 0.5), 6) AS p50,
      |  round(quantile_cont(p_size, 0.75), 6) AS p75,
      |  count(DISTINCT p_brand) AS n_brands,
      |  count(*) AS n_rows
      |FROM part""".stripMargin

  // ---- q23: sessionization (gap > 30 min) — distributed window per user ----
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(unix_timestamp(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || unix_timestamp(col("ts")) - col("prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        // DuckDB's windowed sum(int) yields INT128; pin both sides to bigint
        .cast("bigint"))
      .select(col("event_id"), col("user_id"), col("session_seq"))
  }

  private val q23Sql =
    """SELECT event_id, user_id,
      |  cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_seq
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN lag(epoch(ts)::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)""".stripMargin

  // ---- q24: declarative data generation (the reference's PRIMARY function:
  //          range → one projection of field specs; DataGeneratorFactory) —
  //          portable md5-derived uniforms so DuckDB generates identical data ----
  private def q24(s: SparkSession, dir: String): DataFrame = {
    import graft.generator._
    val specs = Seq(
      SequentialField("row_id", "R", 8),
      IntField("qty", 1, 100),
      OneOfField("category", Seq(("alpha", 0.5), ("beta", 0.3), ("gamma", 0.2))),
      SqlField("total", "qty * 3"))
    Generator.generate(s, 10000L, specs, seed = 7L, uniform = Generator.portableUniform)
  }

  private val q24Sql = {
    def hex4(arg: String) = {
      def hv(i: Int) =
        s"(CASE WHEN ascii(substring(md5($arg),$i,1)) <= 57 THEN ascii(substring(md5($arg),$i,1)) - 48 ELSE ascii(substring(md5($arg),$i,1)) - 87 END)"
      s"(${hv(1)} * 4096 + ${hv(2)} * 256 + ${hv(3)} * 16 + ${hv(4)})"
    }
    val uQty = hex4("'7|qty|' || cast(i AS varchar)")
    val uCat = hex4("'7|category|' || cast(i AS varchar)")
    s"""WITH r AS (SELECT i FROM range(0, 10000) t(i)),
       |g AS (SELECT
       |  'R' || lpad(cast(i AS varchar), 8, '0') AS row_id,
       |  cast(1 + floor($uQty / 65536.0 * 100) AS bigint) AS qty,
       |  CASE WHEN $uCat / 65536.0 * 1.0 < 0.5 THEN 'alpha'
       |       WHEN $uCat / 65536.0 * 1.0 < 0.8 THEN 'beta'
       |       ELSE 'gamma' END AS category
       |FROM r)
       |SELECT row_id, qty, category, qty * 3 AS total FROM g""".stripMargin
  }

  // ---- q25: rolling-hash document fingerprint (Rabin–Karp fold — pure
  //          integer arithmetic, portable) ----
  private def q25(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TF.rollingHash(col("text")).as("rhash"))

  private val q25Sql =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(cast(0 AS bigint),
       |      list_transform(list_filter(string_split_regex($normalizedSql, ''), x -> len(x) > 0),
       |        x -> cast(ascii(x) AS bigint))),
       |    (a, b) -> (a * 31 + b) % 2147483647) AS rhash
       |FROM documents""".stripMargin

  // ---- q26: MODE with canonical tiebreak — mostCommonValueInSet substrate
  //          (ValidationBuilder.scala:900-913; tiebreak = smallest value so
  //          both engines agree deterministically) ----
  private def q26(s: SparkSession, dir: String): DataFrame =
    graft.rules.GroupRules.mostCommonValue(
      t(s, dir, "orders"), Seq("o_orderstatus"), "o_orderpriority")

  private val q26Sql =
    """SELECT o_orderstatus, o_orderpriority AS mode_value FROM (
      |  SELECT o_orderstatus, o_orderpriority,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY count(*) DESC, o_orderpriority) AS r
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
      |WHERE r = 1""".stripMargin

  // ---- q27: regex-pattern data generation (FastDataGenerator.scala:71-128 /
  //          RegexNode.toSql) — portable uniforms, so DuckDB reproduces the
  //          exact strings: alternation + classes + fixed and ranged
  //          quantifiers all exercised ----
  private def q27(s: SparkSession, dir: String): DataFrame = {
    import graft.generator._
    Generator.generate(s, 5000L, Seq(
      SequentialField("id", "C", 6),
      RegexField("code", "(ab|cd|ef)[A-Z]{2}-[0-9]{2,4}")),
      seed = 11L, uniform = Generator.portableUniform)
  }

  private val q27Sql = {
    def hex4(arg: String) = {
      def hv(i: Int) =
        s"(CASE WHEN ascii(substring(md5($arg),$i,1)) <= 57 THEN ascii(substring(md5($arg),$i,1)) - 48 ELSE ascii(substring(md5($arg),$i,1)) - 87 END)"
      s"(${hv(1)} * 4096 + ${hv(2)} * 256 + ${hv(3)} * 16 + ${hv(4)})"
    }
    def u(key: String) = s"(${hex4(s"'11|code#$key|' || cast(i AS varchar)")} / 65536.0)"
    def alt = s"CASE WHEN floor(${u("0.0")} * 3) = 2 THEN 'ef' WHEN floor(${u("0.0")} * 3) = 1 THEN 'cd' ELSE 'ab' END"
    def az(key: String) =
      s"substring('ABCDEFGHIJKLMNOPQRSTUVWXYZ', cast(floor(${u(key)} * 26) AS int) + 1, 1)"
    def digit(key: String) =
      s"substring('0123456789', cast(floor(${u(key)} * 10) AS int) + 1, 1)"
    val len3 = s"(2 + cast(floor(${u("len3")} * 3) AS int))"
    val digits = (0 until 4)
      .map(p => s"CASE WHEN $p < $len3 THEN ${digit(s"3.$p")} ELSE '' END")
      .mkString(" || ")
    s"""SELECT 'C' || lpad(cast(i AS varchar), 6, '0') AS id,
       |  $alt || ${az("1.0")} || ${az("1.1")} || '-' || $digits AS code
       |FROM range(0, 5000) t(i)""".stripMargin
  }

  // ---- q32: faker-expression generation (the reference's
  //          GENERATE_FAKER_EXPRESSION UDF, DataGeneratorFactory.scala:436-437,
  //          recast as deterministic lexicon draws — TemplateField) ----
  private def q32(s: SparkSession, dir: String): DataFrame = {
    import graft.generator._
    Generator.generate(s, 5000L, Seq(
      SequentialField("id", "F", 6),
      TemplateField("owner", "#{Name.name}"),
      TemplateField("city", "#{Address.city}"),
      TemplateField("email", "#{Internet.emailAddress}"),
      TemplateField("note", "from #{Address.city}!")),
      seed = 13L, uniform = Generator.portableUniform)
  }

  private val q32Sql = {
    import graft.generator.Faker
    def hex4(arg: String) = {
      def hv(i: Int) =
        s"(CASE WHEN ascii(substring(md5($arg),$i,1)) <= 57 THEN ascii(substring(md5($arg),$i,1)) - 48 ELSE ascii(substring(md5($arg),$i,1)) - 87 END)"
      s"(${hv(1)} * 4096 + ${hv(2)} * 256 + ${hv(3)} * 16 + ${hv(4)})"
    }
    def u(key: String) = s"(${hex4(s"'13|$key|' || cast(i AS varchar)")} / 65536.0)"
    def pick(words: Seq[String], key: String) = {
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"($list)[cast(floor(${u(key)} * ${words.size}) AS int) + 1]"
    }
    s"""SELECT 'F' || lpad(cast(i AS varchar), 6, '0') AS id,
       |  ${pick(Faker.FirstNames, "owner#t0.f")} || ' ' || ${pick(Faker.LastNames, "owner#t0.l")} AS owner,
       |  ${pick(Faker.Cities, "city#t0.c")} AS city,
       |  lower(${pick(Faker.FirstNames, "email#t0.f")}) || '.' || lower(${pick(Faker.LastNames, "email#t0.l")}) || '@' || ${pick(Faker.Domains, "email#t0.d")} AS email,
       |  'from ' || ${pick(Faker.Cities, "note#t1.c")} || '!' AS note
       |FROM range(0, 5000) t(i)""".stripMargin
  }

  // ---- q28: phash near-dup pairs (banded hamming pairs — north rule's
  //          "duplicate phash clusters"). The synthetic 48-bit phash derives
  //          from doc_id with pure int64 arithmetic (exact in both engines):
  //          ~6 docs per base hash, 0-2 deterministic bit flips each. ----
  private def phashCol: Column = {
    val base = pmod(pmod(col("doc_id"), lit(80)) * lit(2654435761L), lit(1L << 48))
    val k = pmod(col("doc_id"), lit(3))
    val p0 = pmod(col("doc_id") * 7, lit(48))
    val p1 = pmod(col("doc_id") * 7 + 13, lit(48))
    val f0 = when(k >= 1, pow(lit(2.0), p0).cast("long")).otherwise(lit(0L))
    val f1 = when(k >= 2, pow(lit(2.0), p1).cast("long")).otherwise(lit(0L))
    base.bitwiseXOR(f0).bitwiseXOR(f1)
  }

  private def q28(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.phashNearDup(
      t(s, dir, "documents").withColumn("ph", phashCol),
      "doc_id", "ph", maxHamming = 3, bits = 48)

  private val q28Sql =
    """WITH ph AS (
      |  SELECT doc_id,
      |    xor(xor((doc_id % 80) * 2654435761 % 281474976710656,
      |      CASE WHEN doc_id % 3 >= 1 THEN cast(power(2, (doc_id*7) % 48) AS bigint) ELSE 0 END),
      |      CASE WHEN doc_id % 3 >= 2 THEN cast(power(2, (doc_id*7+13) % 48) AS bigint) ELSE 0 END) AS ph
      |  FROM documents),
      |banded AS (
      |  SELECT doc_id, ph, b.b AS band,
      |    cast(floor(ph / power(2, b.b * 12)) AS bigint) % 4096 AS seg
      |  FROM ph CROSS JOIN range(0, 4) b(b)),
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, seg) <= 100000),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.ph AS pa, b.ph AS pb
      |  FROM capped a JOIN capped b ON a.band = b.band AND a.seg = b.seg
      |  WHERE a.doc_id < b.doc_id)
      |SELECT a_id, b_id, cast(bit_count(xor(pa, pb)) AS int) AS dist
      |FROM pairs WHERE bit_count(xor(pa, pb)) <= 3""".stripMargin

  // ---- q29: upstream THETA-join validation (equi + non-equi condition,
  //          semi form) — the reference's joinExpr SQL joins
  //          (ValidationOperations.scala:206-209, any join type) ----
  private def q29(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .select(col("o_orderkey"))

  private val q29Sql =
    """SELECT o_orderkey FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)""".stripMargin

  // ---- q30: corpus-level top-K token frequencies — vocabulary stats for a
  //          training corpus, ranked through the bounded map-side TopK
  //          aggregator (global group), canonical (count desc, token asc)
  //          tiebreak on both engines ----
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(TF.tokens(TF.normalized(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    graft.functions.TopK.topKPerGroup(counts, Nil, "n", "tok", k = 50)
      .select(col("tok"), col("n").cast("bigint").as("n"), col("rnk"))
  }

  private val q30Sql =
    s"""WITH toks AS (SELECT unnest($duckToks) AS tok FROM documents),
       |tf AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
       |r AS (SELECT tok, n,
       |        cast(row_number() OVER (ORDER BY n DESC, tok) AS int) AS rnk
       |      FROM tf)
       |SELECT tok, n, rnk FROM r WHERE rnk <= 50""".stripMargin

  // ---- q31: connected components over the q28 phash near-dup pairs —
  //          near-dup PAIRS → dedup CLUSTERS (label = min member id).
  //          Spark: iterative min-label propagation; DuckDB: recursive-CTE
  //          reachability + min — independent algorithms, same fixpoint ----
  private def q31(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.connectedComponents(q28(s, dir).select(col("a_id"), col("b_id")))
      .select(col("id"), col("label"))

  private val q31Sql =
    s"""WITH RECURSIVE pairs AS (${q28Sql.replace("\n", "\n  ")}),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
       |SELECT id, min(r) AS label FROM reach GROUP BY id""".stripMargin

  // ---- q33: FK generationMode all-combinations (GenerationModeStrategy
  //          .scala:107-166) — orders blocked into 2^1 groups over a string
  //          FK sampled from region: block 0 carries a deterministic
  //          INVALID_<md5> value, block 1 the valid sampled key. The block
  //          id derives from the row identity (no window, no shuffle);
  //          md5 hex is identical in Spark and DuckDB, so the whole overlay
  //          is oracle-expressible. ----
  private def q33(s: SparkSession, dir: String): DataFrame = {
    // one-pass null-preserving lookup build — shared with q18
    val (lookup, n) =
      boundedLookup(t(s, dir, "region"), "r_name", 1000000L, "q33")
    val orders = t(s, dir, "orders")
    val total = orders.count()
    val assigned = orders
      .withColumn("idx", pmod(col("o_orderkey"), lit(n)))
      .join(broadcast(lookup), Seq("idx"))
      .select(col("o_orderkey"), col("r_name"))
      .withColumn("__rid", concat(lit("o:"), col("o_orderkey")))
    graft.generator.ForeignKeys
      .applyAllCombinations(assigned, "__rid", Seq("r_name"), total, seed = 7L)
      .select(col("o_orderkey"), col("r_name").as("fk_region"))
  }

  private val q33Sql =
    """WITH rk AS (SELECT DISTINCT r_name FROM region),
      |l AS (SELECT r_name, row_number() OVER (ORDER BY r_name) - 1 AS idx FROM rk),
      |n AS (SELECT count(*) AS cnt FROM rk),
      |p AS (SELECT greatest(cast(floor(count(*) / 2) AS BIGINT), 1) AS per FROM orders),
      |a AS (SELECT o_orderkey, l.r_name FROM orders CROSS JOIN n
      |      JOIN l ON (o_orderkey % n.cnt) = l.idx)
      |SELECT o_orderkey,
      |  CASE WHEN cast(floor(o_orderkey / p.per) AS BIGINT) % 2 = 1 THEN r_name
      |       ELSE 'INVALID_' ||
      |            substring(md5(concat_ws(':', '7', 'o:' || o_orderkey, '0')), 1, 8)
      |  END AS fk_region
      |FROM a CROSS JOIN p""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1 _),
    "q2_quality_rules" -> (q2 _),
    "q3_scrub" -> (q3 _),
    "q4_join_agg" -> (q4 _),
    "q5_window_monotonic" -> (q5 _),
    "q6_dedup_exact" -> (q6 _),
    "q7_token_stats" -> (q7 _),
    "q8_fingerprint" -> (q8 _),
    "q9_langid_markers" -> (q9 _),
    "q10_similarity_topk" -> (q10 _),
    "q11_minhash_lsh" -> (q11 _),
    "q12_simhash" -> (q12 _),
    "q13_jaccard_pairs" -> (q13 _),
    "q14_embedding_neardup" -> (q14 _),
    "q15_groupby_validation" -> (q15 _),
    "q16_unique_violations" -> (q16 _),
    "q17_overflow_antijoin" -> (q17 _),
    "q18_fk_sample_join" -> (q18 _),
    "q19_explode_fanout" -> (q19 _),
    "q20_all_combinations" -> (q20 _),
    "q21_upstream_antijoin" -> (q21 _),
    "q22_dataset_stats" -> (q22 _),
    "q23_sessionize" -> (q23 _),
    "q24_generator" -> (q24 _),
    "q25_rolling_hash" -> (q25 _),
    "q26_mode" -> (q26 _),
    "q27_regex_gen" -> (q27 _),
    "q28_phash_neardup" -> (q28 _),
    "q29_theta_join" -> (q29 _),
    "q30_top_tokens" -> (q30 _),
    "q31_connected_components" -> (q31 _),
    "q32_faker_template" -> (q32 _),
    "q33_fk_all_combinations" -> (q33 _),
  )

  val oracle: Map[String, String] = Map(
    "q1_agg" -> q1Sql,
    "q2_quality_rules" -> q2Sql,
    "q3_scrub" -> q3Sql,
    "q4_join_agg" -> q4Sql,
    "q5_window_monotonic" -> q5Sql,
    "q6_dedup_exact" -> q6Sql,
    "q7_token_stats" -> q7Sql,
    "q8_fingerprint" -> q8Sql,
    "q9_langid_markers" -> q9Sql,
    "q10_similarity_topk" -> q10Sql,
    "q11_minhash_lsh" -> q11Sql,
    "q12_simhash" -> q12Sql,
    "q13_jaccard_pairs" -> q13Sql,
    "q14_embedding_neardup" -> q14Sql,
    "q15_groupby_validation" -> q15Sql,
    "q16_unique_violations" -> q16Sql,
    "q17_overflow_antijoin" -> q17Sql,
    "q18_fk_sample_join" -> q18Sql,
    "q19_explode_fanout" -> q19Sql,
    "q20_all_combinations" -> q20Sql,
    "q21_upstream_antijoin" -> q21Sql,
    "q22_dataset_stats" -> q22Sql,
    "q23_sessionize" -> q23Sql,
    "q24_generator" -> q24Sql,
    "q25_rolling_hash" -> q25Sql,
    "q26_mode" -> q26Sql,
    "q27_regex_gen" -> q27Sql,
    "q28_phash_neardup" -> q28Sql,
    "q29_theta_join" -> q29Sql,
    "q30_top_tokens" -> q30Sql,
    "q31_connected_components" -> q31Sql,
    "q32_faker_template" -> q32Sql,
    "q33_fk_all_combinations" -> q33Sql,
  )
}
