package graft.dedup

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and Bloom-filter assisted — the training-data
  * pipeline staples. All are expressed as DataFrame transformations (shuffle
  * only where semantically required: the LSH band join and the group-bys).
  *
  * Reference lineage: the reference dedups per-batch with `dropDuplicates` +
  * a cross-batch broadcast BloomFilter (`core/util/UniqueFieldsUtil.scala:
  * 21-110`); we keep both and add the near-dup family it lacks.
  *
  * Portability: where an operator is also exposed as a driver-checked oracle
  * query, hashes are md5-derived (`md5(TF.normalized(text))`) so DuckDB
  * computes the same values. Spark-only paths (Bloom) use faster xxhash64.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup on a normalized-text fingerprint: keeps the row with the
    * minimal `idCol` per group. Aggregate-based (map-side partial min) —
    * never a window over the whole dataset.
    */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(TF.normalized(col(textCol))).as("fp"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** dropDuplicates-style: keep one row per normalized text (arbitrary
    * winner — cheaper than survivors when the choice doesn't matter).
    */
  def dropExact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__fp", md5(TF.normalized(col(textCol))))
      .dropDuplicates("__fp")
      .drop("__fp")

  // ---------- MinHash + LSH ----------

  /** K min-hash values over word n-gram shingles, Carter–Wegman style and
    * engine-portable: ONE md5 per shingle → 32-bit value v (first 8 hex
    * digits) → h_j = (A_j·v + B_j) mod P, P = 2^31−1, with A_j/B_j fixed
    * integer formulas of j — pure int64 arithmetic that DuckDB reproduces
    * exactly (q11). Round 1 instead ran k SEPARATE md5 calls per shingle
    * (md5(j + "|" + shingle)) — 16× the hashing on the hot column; this
    * derivation makes the signature stage ~k× cheaper at identical LSH
    * semantics. Empty shingle set → null signature.
    *
    * Implemented as a narrow String→array UDF rather than nested
    * transform/array_min Columns: higher-order-function lambdas are
    * INTERPRETED per element in Spark (no codegen); the JIT'd UDF with a
    * thread-local MessageDigest is ~50× faster. Semantics identical
    * (verified against the DuckDB oracle, q11).
    */
  def minhashSignature(text: Column, k: Int, shingleN: Int): Column = {
    require(k >= 1 && k <= 64, s"minhash k=$k out of range: 64 fixed permutation constants")
    val f = udf((s: String) => minhashScala(s, k, shingleN))
    f(text)
  }

  final val MinhashP = 2147483647L
  /** 64 pseudo-random affine constants (splitmix64 stream, seed 42,
    * reduced mod P) — FIXED literals shared verbatim with the q11 oracle
    * SQL. Structured sequences (e.g. A_j = c·j) make the permutations
    * correlated and inflate min-agreement counts ~30×; these must stay
    * independent-looking. k is capped at 64.
    */
  final val MinhashAs: Array[Long] = Array(
    659044154L, 1684241247L, 1832713521L, 1023118926L, 731436035L, 955665615L,
    560060940L, 1428401311L, 582330823L, 933976489L, 1675928438L, 237222180L,
    1726254562L, 302152608L, 1111414400L, 765485014L, 1703768852L, 1826609375L,
    41119721L, 449455358L, 1703128238L, 1551146821L, 1000504240L, 1625704049L,
    1907053577L, 209709962L, 1337736525L, 2039969238L, 4701896L, 970466178L,
    2059089295L, 985022538L, 296544918L, 1226007366L, 1979698696L, 1295859597L,
    1964049615L, 1965809095L, 886504195L, 1535008152L, 688190602L, 2068813255L,
    834055069L, 733859485L, 727636353L, 720938475L, 861933582L, 622034766L,
    454344558L, 413937018L, 1511865443L, 443189057L, 1581439347L, 257025459L,
    1624428357L, 997273408L, 1927919144L, 619959101L, 1003501749L, 1126256864L,
    2008930259L, 1769984148L, 135784333L, 1949218052L)
  final val MinhashBs: Array[Long] = Array(
    349464442L, 1402908527L, 443029528L, 141030218L, 296837882L, 1017821660L,
    837372440L, 1594573259L, 250344997L, 1780793105L, 433512996L, 260895301L,
    1722723776L, 313824733L, 5224638L, 639361606L, 534710096L, 1347372905L,
    93977469L, 1760134290L, 1601259487L, 1063403584L, 881442760L, 735973279L,
    498740545L, 18183843L, 1727707020L, 1041472278L, 129808384L, 1940605848L,
    1579665131L, 1643640531L, 1972334632L, 1331751504L, 1364606613L, 2103642489L,
    1424784881L, 27186340L, 2097768747L, 1751924771L, 425947287L, 1727004946L,
    213337625L, 1331710509L, 781308659L, 1364528239L, 1263382359L, 88667981L,
    1881160677L, 610937601L, 371831018L, 2108508087L, 1202379084L, 137464757L,
    566705315L, 817547995L, 1874911019L, 1315161753L, 564616057L, 1239790753L,
    1135158774L, 973534809L, 592613431L, 2141226324L)
  def minhashA(j: Int): Long = MinhashAs(j)
  def minhashB(j: Int): Long = MinhashBs(j)

  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** java-regex `\s` (ASCII class, no UNICODE_CHARACTER_CLASS) — the
    * tokenizer contract shared with [[TF.tokens]]. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  /** Pure-Scala twin of the shingle+minhash chain (normalization contract =
    * [[TF.normalized]] + [[TF.tokens]]). Null when < shingleN tokens.
    *
    * Hot loop (the q11 CPU floor is one md5 per shingle — a DuckDB-
    * portability constraint): tokens are scanned out manually (the earlier
    * `replaceAll("\\s+", " ")` recompiled its regex on EVERY call) and
    * hashed as UTF-8 byte arrays fed incrementally to the digest — no
    * StringBuilder shingle string, no 32-char hex string, no parseLong. The
    * 32-bit base value reads the digest's first 4 bytes directly (identical
    * to parsing the first 8 hex chars). Values are bit-identical to the
    * previous formulation (q11 oracle hash unchanged).
    */
  def minhashScala(text: String, k: Int, shingleN: Int): Array[Long] = {
    require(k >= 1 && k <= 64, s"minhash k=$k out of range: 64 fixed permutation constants")
    if (text == null) return null
    val s = text.toLowerCase
    val n = s.length
    val toks = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start)
        toks += s.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    if (toks.length < shingleN) return null
    val as = Array.tabulate(k)(minhashA)
    val bs = Array.tabulate(k)(minhashB)
    val minimums = Array.fill(k)(Long.MaxValue)
    val d = mdLocal.get()
    val dig = new Array[Byte](16)
    val space = Array(' '.toByte)
    var p = 0
    while (p <= toks.length - shingleN) {
      d.reset()
      var t = 0
      while (t < shingleN) {
        if (t > 0) d.update(space)
        d.update(toks(p + t))
        t += 1
      }
      d.digest(dig, 0, 16)
      // first 4 digest bytes big-endian = first 8 md5 hex chars, mod P
      val v = (((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)) % MinhashP
      var j = 0
      while (j < k) {
        val h = (as(j) * v + bs(j)) % MinhashP // as(j) < 2^31, v < 2^31 → no overflow
        if (h < minimums(j)) minimums(j) = h
        j += 1
      }
      p += 1
    }
    minimums
  }

  /** Candidate near-duplicate pairs via banded LSH over the minhash
    * signature: rows sharing any band hash become candidates; candidates are
    * scored by the fraction of equal signature components (the unbiased
    * Jaccard estimate). Only candidate pairs are scored — the
    * all-pairs O(n²) never materializes; the band join is the shuffle.
    *
    * Returns (a_id, b_id, n_equal) with a_id < b_id, n_equal ∈ [minEqual, k].
    */
  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      shingleN: Int = 2,
      bands: Int = 4,
      minEqual: Int = 8,
      maxBucket: Int = 500): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // The signature computation (k md5-min reductions over the shingle set)
    // is the CPU-heavy stage. Two deliberate physical choices:
    //  - spread the scan only when it arrives under-parallel (a small
    //    parquet scan is one partition; without spreading, all docs hash on
    //    one core) — when the scan is already as wide as the cluster the
    //    repartition would shuffle the full text column for nothing;
    //  - persist the signatures: both sides of the band self-join below
    //    re-derive them, and Catalyst would re-run the UDF per branch
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // The partition-count probe is restricted to narrow scan-shaped inputs:
    // under AQE, df.rdd finalizes the adaptive plan, which EXECUTES every
    // shuffle stage below the result stage — for a join/aggregate input the
    // probe would run the caller's whole pipeline once and the (uncached)
    // signature pass would run it again. Complex inputs take the
    // unconditional repartition instead: one possibly-redundant exchange
    // beats a double-executed upstream.
    val scanShaped = {
      import org.apache.spark.sql.catalyst.plans.logical
      // p.subqueries: a Filter carrying an IN/scalar subquery hides an
      // arbitrary pipeline inside its EXPRESSION tree, which collect does
      // not traverse — such a plan is not scan-shaped either
      df.queryExecution.analyzed.collect {
        case p if p.subqueries.nonEmpty ||
          (!p.isInstanceOf[logical.Project] && !p.isInstanceOf[logical.Filter] &&
            !p.isInstanceOf[logical.SubqueryAlias] && !p.isInstanceOf[logical.LeafNode]) => p
      }.isEmpty
    }
    val spread =
      if (scanShaped && df.rdd.getNumPartitions >= parallelism) df
      else df.repartition(parallelism)
    val sigs = spread
      .select(col(idCol).as("id"), minhashSignature(col(textCol), k, shingleN).as("sig"))
      .where(col("sig").isNotNull)
      .persist()
    // the signature rides along through banding and the pair join (an extra
    // ~8·k bytes per banded row) so the candidate pairs can be scored
    // directly: the earlier ids-only shape re-joined `sigs` TWICE after a
    // pair-level distinct — two more shuffles of the full signature set at
    // scale (the joins are shuffles once sigs outgrow a broadcast) and two
    // more broadcast-build jobs at small scale, for a byte saving the
    // group-by's map-side partial collapse mostly recovers
    val banded = sigs.select(
      col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          md5(concat_ws("|",
            transform(slice(col("sig"), b * r + 1, lit(r)), x => x.cast("string")))).as("bkey")))).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bkey"))
    // degenerate-bucket guard: a band bucket with m members yields m² pairs;
    // buckets past maxBucket are boilerplate collisions (empty shingle-sets,
    // template pages) and are dropped — standard LSH practice, and the knob
    // that bounds worst-case join fan-out at 10^12 rows.
    // Implemented as over-cap keys (map-side partial count, tiny output —
    // at most rows/maxBucket keys by construction) broadcast into an
    // anti-join: the earlier window-count formulation shuffled AND sorted
    // the full banded row set per consuming branch (both self-join sides
    // re-derived the window); this shape never moves the banded rows at all
    val overKeys = overCapKeys(banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("__bn"))
      .where(col("__bn") > maxBucket)
      .select(col("band"), col("bkey")))
    val bandedCapped = overKeys.fold(banded)(banded.join(_, Seq("band", "bkey"), "left_anti"))
    val a = bandedCapped.select(
      col("band"), col("bkey"), col("id").as("a_id"), col("sig").as("a_sig"))
    val b = bandedCapped.select(
      col("band"), col("bkey"), col("id").as("b_id"), col("sig").as("b_sig"))
    // score each collision row, filter, THEN collapse multi-band collisions:
    // n_equal is a function of the pair (signatures are functionally
    // dependent on ids), so computing it per collision row (a 16-slot zip
    // compare, ≤ bands duplicates per pair) and filtering first means only
    // SURVIVING pairs reach the dedup aggregation — and they carry one int
    // instead of two k-element signature arrays, so the aggregate is a
    // HashAggregate on a narrow exchange (first(array) forced a
    // SortAggregate: array buffers aren't hash-aggregable, which added two
    // Sorts of the full collision set and shuffled ~2·8·k bytes per row)
    val nEqual = size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y), p => p))
    a.join(b, Seq("band", "bkey"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), nEqual.as("n_equal"))
      .where(col("n_equal") >= minEqual)
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("n_equal")).as("n_equal"))
  }

  // ---------- SimHash ----------

  /** 16-bit SimHash over whitespace tokens, built PORTABLY: per-token hash =
    * first 4 hex digits of md5 decoded by character position arithmetic (no
    * engine-specific hex cast), per-bit ±1 voting, sign → bit. Small width
    * keeps the oracle SQL tractable; the Spark-only 64-bit variant is
    * [[simhash64]].
    */
  def simhash16(text: Column): Column = {
    val f = udf((s: String) => simhash16Scala(s))
    f(text)
  }

  /** Pure-Scala twin of the 16-bit SimHash (tokenizer contract =
    * [[TF.normalized]] + [[TF.tokens]]; per-token hash = first 4 md5 hex
    * digits = first 2 digest bytes big-endian; vote per bit; sign → bit).
    * Null for null text or zero tokens — exactly the Column formulation's
    * `when(size(toks) > 0, …)` null. The earlier all-Column HOF version ran
    * one interpreted aggregate per bit and each re-evaluated the md5-per-
    * token array: the sf1 noop probe (count-based bench prunes the column)
    * measured 177 s at 50k docs, 19 s after folding the 16 votes into one
    * pass, ~1 s as this JIT'd UDF — same reasoning as [[minhashSignature]].
    * Values are bit-identical (q12 oracle hash unchanged).
    */
  def simhash16Scala(text: String): java.lang.Integer = {
    if (text == null) return null
    val s = text.toLowerCase
    val n = s.length
    val votes = new Array[Int](16)
    val d = mdLocal.get()
    val dig = new Array[Byte](16)
    var ntok = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        ntok += 1
        d.reset()
        d.update(s.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d.digest(dig, 0, 16)
        // first 4 hex digits of md5 = first 2 digest bytes big-endian
        val h = ((dig(0) & 0xff) << 8) | (dig(1) & 0xff)
        var b = 0
        while (b < 16) { votes(b) += (if (((h >> b) & 1) == 1) 1 else -1); b += 1 }
      }
    }
    if (ntok == 0) return null
    var out = 0
    var b = 0
    while (b < 16) { if (votes(b) > 0) out |= 1 << b; b += 1 }
    out
  }

  /** 64-bit SimHash via xxhash64 (Spark-native fast path; not portable to
    * the DuckDB oracle — verified by ScalaTest against a Scala reference
    * implementation instead).
    */
  def simhash64(text: Column): Column = {
    val toks = TF.tokens(TF.normalized(text))
    val hashes = transform(toks, t => xxhash64(t))
    // single fold accumulating all 64 bit votes (see simhash16: per-bit
    // aggregates re-evaluate the hashes argument once per bit)
    val votes = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, b) =>
        a + when(call_function("getbit", h, b) === 1, 1).otherwise(-1)))
    val bits = zip_with(votes, sequence(lit(0), lit(63)), (v, b) =>
      when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    when(size(toks) > 0, aggregate(bits, lit(0L), (acc, x) => acc.bitwiseOR(x)))
  }

  /** Scala reference for simhash64 (test oracle). */
  def simhash64Scala(text: String): Long = {
    val toks = text.toLowerCase.replaceAll("\\s+", " ").trim
      .split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return 0L // matches SQL NULL→caller handles
    val votes = new Array[Int](64)
    toks.foreach { t =>
      val h = XxHash.hashString(t)
      var b = 0
      while (b < 64) { votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Hamming distance between two 64-bit simhashes as a Column. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Over-cap bucket keys for [[minhashCandidates]] and [[phashNearDup]],
    * read with ONE bounded collect whose size picks the plan: no keys (the
    * common case) → None, and the caller drops the anti-join entirely; up
    * to 1M keys → a local relation, broadcast into the anti-join; more (the
    * rows/maxBucket worst case can exceed driver/broadcast limits at 10^12
    * banded rows) → the key frame itself, for a shuffle anti-join. Nothing
    * is persisted: both self-join sides read the local relation, so the
    * count aggregation runs once and no cached frame outlives the call.
    */
  private def overCapKeys(overKeys: DataFrame): Option[DataFrame] = {
    val got = overKeys.limit(MaxLocalKeys + 1).collect()
    if (got.isEmpty) None
    else if (got.length <= MaxLocalKeys)
      Some(broadcast(overKeys.sparkSession.createDataFrame(
        java.util.Arrays.asList(got: _*), overKeys.schema)))
    else Some(overKeys)
  }
  private final val MaxLocalKeys = 1000000

  // ---------- perceptual-hash (phash) near-dup ----------

  /** Near-duplicate pairs by hamming distance over a perceptual hash — the
    * north rule's "duplicate phash clusters". Scale path: the `bits`-wide
    * hash is split into maxHamming+1 disjoint segments; by pigeonhole, two
    * hashes within hamming <= maxHamming agree EXACTLY on at least one
    * segment, so per-band equi-joins find every qualifying pair and the
    * O(n²) all-pairs never materializes. `maxBucket` caps degenerate
    * segments (e.g. the all-black-thumbnail hash) like
    * [[minhashCandidates]]. Returns (a_id, b_id, dist), one row per pair
    * (`idCol` is a key).
    *
    * A pair within maxHamming collides on every band where its hashes'
    * XOR has a zero segment, and the join meets it once per such band. It
    * is kept only on its LOWEST uncapped colliding band: a row on band b
    * survives when every band b' < b either has a non-zero XOR segment or
    * is over the cap. Both docs share a colliding segment, so one doc's
    * capped-band mask decides for both. That is the capped pair set (q28:
    * `count(*) OVER (band, seg) <= maxBucket`, then DISTINCT) without a
    * dedup shuffle; the mask is a constant 0, and costs no join, unless
    * some bucket is over the cap.
    */
  def phashNearDup(
      df: DataFrame,
      idCol: String,
      phashCol: String,
      maxHamming: Int = 3,
      bits: Int = 64,
      maxBucket: Long = 100000L): DataFrame = {
    val bands = maxHamming + 1
    val width = bits / bands
    require(width > 0 && bands * width <= 64, s"bad banding: $bits bits / $bands bands")
    val mask = (1L << width) - 1
    def segment(h: Column, band: Column): Column =
      call_function("shiftrightunsigned", h, band * width).bitwiseAND(lit(mask))
    val base = df.select(col(idCol).as("a_id"), col(phashCol).cast("long").as("a_ph"))
    val banded = base
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("seg", segment(col("a_ph"), col("band")))
    // over-cap segments via partial-agg counts (≤ rows/maxBucket keys by
    // construction) — same shape as [[minhashCandidates]]'s cap: no
    // shuffle/sort of the banded rows
    val overSegs = overCapKeys(banded.groupBy(col("band"), col("seg"))
      .agg(count(lit(1)).as("__bc"))
      .where(col("__bc") > maxBucket)
      .select(col("band"), col("seg")))
    val capped = overSegs.fold(banded)(banded.join(_, Seq("band", "seg"), "left_anti"))
    // bit b' set = the hash's band-b' segment is over the cap
    val left = overSegs.fold(capped.withColumn("cap", lit(0L))) { keys =>
      val caps = banded.join(keys, Seq("band", "seg"), "left_semi")
        .groupBy(col("a_ph"))
        .agg(bit_or(call_function("shiftleft", lit(1L), col("band"))).as("cap"))
      capped.join(caps, Seq("a_ph"), "left")
        .withColumn("cap", coalesce(col("cap"), lit(0L)))
    }
    val right = capped.select(
      col("band"), col("seg"), col("a_id").as("b_id"), col("a_ph").as("b_ph"))
    val xor = col("a_ph").bitwiseXOR(col("b_ph"))
    val lowestBand = (0 until bands - 1).foldLeft(lit(true)) { (acc, j) =>
      acc && (col("band") <= j || segment(xor, lit(j)) =!= 0 ||
        col("cap").bitwiseAND(lit(1L << j)) =!= 0)
    }
    left.join(right, Seq("band", "seg"))
      .where(col("a_id") < col("b_id"))
      .withColumn("dist", hamming64(col("a_ph"), col("b_ph")).cast("int"))
      .where(col("dist") <= maxHamming && lowestBand)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Connected components over an undirected candidate-pair edge list
    * (a_id, b_id) → (id, label) with label = smallest id in the component —
    * turns near-dup PAIRS into dedup CLUSTERS (survivor = the label).
    *
    * TWO-PHASE hybrid, tuned by what each phase is good at:
    *
    * Phase 1 — fused min-label propagation with pointer jumping, ONE join +
    * ONE aggregate per round (self-loops carry the old label through the
    * agg; id→label pointer edges fuse the label-of-label shortcut into the
    * same groupBy). Near-dup graphs are shallow stars/cliques: this
    * finishes them in a handful of the cheapest possible rounds. It is
    * NOT guaranteed fast on deep components — convergence speed depends on
    * how ids are laid out on the graph (a permuted-id 4095-diameter path
    * blew past 40 rounds; sequential-id test paths had flattered it) — so
    * it gets a FIXED budget of rounds, never the whole maxIter.
    *
    * Phase 2 (only if phase 1 hits its budget unconverged) — contract the
    * graph by current labels (strictly fewer nodes) and finish with
    * alternating LARGE-STAR / SMALL-STAR contraction (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
    * and Beyond", SoCC'14; the algorithm behind GraphFrames' CC):
    *  - large-star connects each node's strictly larger neighbors to
    *    m = min(Γ(u) ∪ {u}); small-star connects the node and its smaller
    *    neighbors to m;
    *  - fixpoint = stars centered at component minima, in provably
    *    O(log² n) rounds (≈log₂ diameter in practice) INDEPENDENT of id
    *    layout — the guarantee phase 1 lacks. The final label composes
    *    phase-1 labels with the star labels of their roots.
    *
    * The CC scale probe (CCProbe: 12M nodes, 3000 planted 4095-diameter
    * permuted-id paths) pins the whole-pipeline round count and exactness.
    *
    * The result is locally checkpointed (materialized, lineage truncated) —
    * it never replays the loop; superseded per-round snapshots are freed
    * eagerly. Throws IllegalStateException if maxIter total rounds don't
    * reach the fixpoint rather than returning wrong labels.
    *
    * Scale shape:
    *  - a forest pre-pass contracts each input partition to a spanning
    *    forest first ([[SpanningForest]]: one union-find `mapPartitions`,
    *    no shuffle, never more rows out than in, bounded memory per task).
    *    Near-dup cliques arrive as k(k-1)/2 pairs and leave as k - 1
    *    edges: the q28-shaped 620k-pair list becomes ~30k edges;
    *  - no step materializes neighborhood lists or pair products; phase-2
    *    edge counts never grow (each input edge yields exactly one output);
    *  - shuffle width is sized from the observed edge count (~250k
    *    edges/partition, min 2): at sf0.1 that is 2 tasks per stage, not
    *    32; at 10^10 edges it scales past the session default. The width
    *    lives in a CLONED session (`newSession()` — own conf, same
    *    SparkContext, shared cache/SharedState), so the CALLER's conf is
    *    never touched; explicit per-join repartition was measured 35%
    *    slower (loses map-side partial combines and AQE's freedom);
    *  - the loop's input width follows the same rule: the persisted edge
    *    list is coalesced to ⌈edges / 250k⌉ partitions, since at these
    *    sizes a round's cost is per-task overhead;
    *  - convergence detection rides each round's own materialization via
    *    Observation — no extra pass.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsStats(edges, maxIter)._1

  /** [[connectedComponents]] plus its loop telemetry — (labels, total
    * rounds executed, shuffle width used). The scale probe asserts rounds
    * stays logarithmic and the width actually grows past the session
    * default on big edge lists (sf0.1 only ever exercises p=2). */
  private[graft] def connectedComponentsStats(edges: DataFrame,
      maxIter: Int = 30): (DataFrame, Int, Int) = {
    val spark = edges.sparkSession
    // both orientations in ONE pass over the partition-contracted edge list
    // (a union of two selects would re-derive the typically-expensive
    // unpersisted upstream candidate-pair pipeline once per branch — q31's
    // edges are the whole q28 banded join). NOT deduped: phase 1's
    // min-aggregation is idempotent under duplicate edges, and phase 2
    // starts with its own distinct at contraction — a dedup pass here would
    // cost one extra full-edge-list shuffle for nothing. Self-loop input
    // edges are KEPT (the forest keeps a self-loop-only node as (a, a)): a
    // node appearing only as (a, a) must still come back labeled a (phase
    // 1's id universe derives from these endpoints; phase 2 drops
    // self-loops at contraction, where the node is already registered).
    val eA = spanningForest(edges)
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val m0 = eA.count() // materializes the persist AND sizes the loop
    val p = math.max(2, math.min((m0 / 250000L + 1).toInt, 10000))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", p.toString)
    // the loop's input width by the same ~250k-edges rule as p: at these
    // sizes a round costs per-task overhead, not per-edge work
    val width = math.max(1L, (m0 + 249999L) / 250000L).toInt
    val sym = org.apache.spark.sql.GraftSqlBridge.withSession(eA.coalesce(width), s2)

    // ---- phase 1: fused min-propagation + pointer jump ----
    def propRound(l: DataFrame, withJump: Boolean): DataFrame = {
      val graphE = sym.select(col("src"), col("dst"), lit(false).as("self"))
      val selfE = l.select(col("id").as("src"), col("id").as("dst"), lit(true).as("self"))
      val jumpE = l.select(col("id").as("src"), col("label").as("dst"), lit(false).as("self"))
      val aug = if (withJump) graphE.union(selfE).union(jumpE) else graphE.union(selfE)
      aug.join(l.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("dlabel")).as("label"),
          min(when(col("self"), col("dlabel"))).as("__old"))
        .select(col("src").as("id"), col("label"), col("__old"))
    }
    // Round 0 fused with label initialization: with identity labels the
    // dst→label join IS the identity, so the first round reduces to ONE
    // aggregate over the symmetric edges plus per-endpoint self edges — the
    // distinct-ids initialization job, its checkpoint, and the first
    // round's join all disappear (the id universe and __old come out of the
    // same groupBy; duplicate self edges are harmless under min)
    def round0: DataFrame =
      sym.select(col("src"), col("dst"), lit(false).as("self"))
        .union(sym.select(col("src"), col("src").as("dst"), lit(true).as("self")))
        .groupBy(col("src"))
        .agg(min(col("dst")).as("label"),
          min(when(col("self"), col("dst"))).as("__old"))
        .select(col("src").as("id"), col("label"), col("__old"))
    // ONE propagation round per checkpointed job: a round's output feeds the
    // next round from THREE branches (self edges, jump edges, the dst→label
    // join side), so chaining two rounds between checkpoints re-evaluated
    // the first round's aggregate once per consumer — measured ~40% slower
    // than materializing every round, and the per-round convergence check
    // exits one round earlier on odd-round fixpoints. The budget is FIXED —
    // deep graphs move on to phase 2 instead of burning maxIter — and
    // RESERVES rounds for phase 2 when maxIter is small (a budget of
    // min(8, maxIter) left the star loop, guarded by rounds < maxIter,
    // unreachable for maxIter <= 8: non-convergence threw without ever
    // running the phase that guarantees convergence)
    val budget = math.min(8, math.max(1, maxIter - 4))
    var labels: DataFrame = null
    var rounds = 0
    var done = false
    while (!done && rounds < budget) {
      val obs = org.apache.spark.sql.Observation()
      val updated = (if (labels == null) round0 else propRound(labels, rounds >= 2))
        .observe(obs, count_if(col("label") =!= col("__old")).as("changed"))
        .drop("__old")
        .localCheckpoint(true)
      val changed = obs.get("changed").asInstanceOf[Long]
      if (labels != null) freeCheckpoint(labels)
      labels = updated
      done = changed == 0
      rounds += 1
    }

    // ---- phase 2: contract by labels, finish with star contraction ----
    if (!done) {
      val lu = labels.select(col("id").as("src"), col("label").as("lu"))
      val lv = labels.select(col("id").as("dst"), col("label").as("lv"))
      var cur = sym.join(lu, "src").join(lv, "dst")
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      // last read of the full symmetrized edge list was the contraction
      // just materialized — free its cached blocks BEFORE the star rounds
      // (at 10^10 edges, holding 2x the edge list through O(log n) rounds
      // would evict working blocks; unpersist is idempotent, the final
      // call after the loop covers the phase-1-only path)
      eA.unpersist()

      // one star op: m(u) = min(Γ(u) ∪ {u}); large connects strictly
      // larger neighbors to m, small connects u and its smaller ones to m
      def star(e: DataFrame, large: Boolean): DataFrame = {
        val se = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
        val mins = se.groupBy(col("u"))
          .agg(min(col("v")).as("__mn"))
          .select(col("u"), least(col("__mn"), col("u")).as("m"))
        val out =
          if (large)
            se.where(col("v") > col("u")).join(mins, "u")
              .select(col("v").as("u"), col("m").as("v"))
          else
            se.where(col("v") < col("u")).join(mins, "u")
              .select(col("v").as("u"), col("m").as("v"))
              .union(mins.select(col("u"), col("m").as("v")))
        out.select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          .where(col("u") =!= col("v")).distinct()
      }

      var prevSig = (-1L, -1L)
      var starDone = false
      while (!starDone && rounds < maxIter) {
        // each star half is checkpointed before the next consumes it: a
        // star op references its input from several branches (both union
        // orientations, the min aggregate, the join) — feeding it the LAZY
        // large-star output re-evaluated that half once per branch
        val large = star(cur, large = true).localCheckpoint(true)
        freeCheckpoint(cur)
        val obs = org.apache.spark.sql.Observation()
        val stepped = star(large, large = false)
          .observe(obs,
            count(lit(1)).as("cnt"),
            // bit_xor: order-independent, overflow-free set signature (the
            // edge list is distinct; sum() overflows Long under ANSI)
            coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("sig"))
          .localCheckpoint(true)
        val sig = (obs.get("cnt").asInstanceOf[Long], obs.get("sig").asInstanceOf[Long])
        freeCheckpoint(large)
        cur = stepped
        rounds += 1
        // identical (count, checksum) across a full large+small round =
        // fixpoint (the star ops are deterministic functions of the set)
        starDone = sig == prevSig
        prevSig = sig
      }
      if (!starDone) {
        freeCheckpoint(labels); freeCheckpoint(cur)
        eA.unpersist()
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds; raise maxIter")
      }
      // fixpoint edges are (root, componentMin) stars over phase-1 roots;
      // compose: a row's final label = star label of its phase-1 root
      // (roots untouched by phase 2 — already isolated — keep their own)
      val starMap = cur.select(col("u").as("label"), col("v").as("__root"))
      val composed = labels.join(starMap, Seq("label"), "left")
        .select(col("id"), coalesce(col("__root"), col("label")).as("label"))
        .localCheckpoint(true)
      freeCheckpoint(labels); freeCheckpoint(cur)
      labels = composed
    }
    eA.unpersist()
    (labels, rounds, p)
  }

  /** Release a superseded localCheckpoint's storage blocks NOW instead of
    * waiting for driver GC + ContextCleaner: each loop block snapshots the
    * full |V|-row label frame, and a deep graph would otherwise hold every
    * superseded snapshot in executor storage for the whole loop. The
    * checkpointed RDD sits inside the frame's LogicalRDD node; unpersisting
    * it is safe because the NEXT checkpoint is already materialized and has
    * no dependency on it.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** Each input partition's edges contracted to a spanning forest
    * ([[SpanningForest]]): `(x, component min)` per non-root node, never
    * more rows than the partition held. Integral ids are held as longs and
    * cast back to their common type; other id types pass through as is.
    */
  private[dedup] def spanningForest(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val ends = edges.select(col("a_id"), col("b_id"))
    ends.select(coalesce(col("a_id"), col("b_id"))).schema.head.dataType match {
      case idType @ (ByteType | ShortType | IntegerType | LongType) =>
        val asLong = StructType(Seq(
          StructField("a_id", LongType), StructField("b_id", LongType)))
        ends.select(col("a_id").cast(LongType), col("b_id").cast(LongType))
          .mapPartitions(SpanningForest.contract)(
            org.apache.spark.sql.Encoders.row(asLong))
          .select(col("a_id").cast(idType), col("b_id").cast(idType))
      case _ => ends
    }
  }

  // ---------- n-gram Jaccard ----------

  /** Pairwise Jaccard similarity of distinct-token sets within a blocking
    * key (never all-pairs: the block join is the only shuffle; blocks must
    * be chosen so |block|² stays bounded — at 10^12 rows that means LSH
    * ([[minhashCandidates]]) supersedes this exact variant).
    * Returns (a_id, b_id, n_inter, n_union).
    *
    * `overlapOnly = true` keeps only pairs sharing ≥1 token, filtered with
    * `arrays_overlap` BEFORE the set sizes are computed: overlap
    * short-circuits on the first common element, where a post-hoc
    * `n_inter >= 1` filter pushes the full intersection build below the
    * projection and evaluates it twice per surviving pair. Per-pair union
    * size is arithmetic (|A| + |B| − |A∩B|, exact — the token arrays are
    * distinct by construction) instead of a second hash-set build.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, blockCol: Column,
      overlapOnly: Boolean = false): DataFrame = {
    val toks = array_distinct(TF.tokens(TF.normalized(col(textCol))))
    val base = df.select(blockCol.as("block"), col(idCol).as("id"), toks.as("toks"))
    val a = base.select(col("block"), col("id").as("a_id"), col("toks").as("a_toks"))
    val b = base.select(col("block"), col("id").as("b_id"), col("toks").as("b_toks"))
    val joined = a.join(b, Seq("block"))
      .where(col("a_id") < col("b_id"))
    val paired = if (overlapOnly)
      joined.where(arrays_overlap(col("a_toks"), col("b_toks")))
    else joined
    val nInter = size(array_intersect(col("a_toks"), col("b_toks")))
    paired.select(
      col("a_id"), col("b_id"),
      nInter.as("n_inter"),
      (size(col("a_toks")) + size(col("b_toks")) - nInter).as("n_union"))
  }

  // ---------- Bloom-filter assisted (reference UniqueFieldsUtil pattern) ----------

  /** Cross-batch dedup assist: builds a BloomFilter over `keyCol` of
    * `previous` (driver-side sketch, broadcast to executors — the
    * reference's `UniqueFieldsUtil.scala:87-110` pattern), then filters
    * `current` to rows whose key is definitely-new. False positives drop a
    * few new rows (tunable fpp), never duplicate — the right tradeoff for
    * dedup.
    */
  def bloomNewRows(
      current: DataFrame,
      previous: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val bf = previous.stat.bloomFilter(keyCol, math.max(expectedItems, 1L), fpp)
    val spark = current.sparkSession
    val bfB = spark.sparkContext.broadcast(bf)
    val notSeen = udf((k: String) => k != null && !bfB.value.mightContainString(k))
    current.where(notSeen(col(keyCol).cast("string")))
  }

  /** Size-gated cross-batch dedup: the driver-built Bloom sketch is only
    * viable while it fits driver memory (≈1.2 bytes/key at 1% fpp — a
    * 10^12-key sketch would be ~1.2 TB). Above `maxSketchItems` this
    * switches to a distributed left_anti join on the key: a shuffle, but one
    * AQE sizes and that scales with the cluster instead of the driver heap.
    * Both paths drop null-keyed rows (a null key is never "new").
    */
  def newRows(
      current: DataFrame,
      previous: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.01,
      maxSketchItems: Long = 2000000000L): DataFrame =
    if (expectedItems <= maxSketchItems)
      bloomNewRows(current, previous, keyCol, expectedItems, fpp)
    else
      current.where(col(keyCol).isNotNull)
        .join(previous.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
}

/** Minimal xxhash64 (seed 42) matching Spark's `xxhash64` on UTF-8 string
  * input — used by Scala-side test oracles so Spark-only hash paths are
  * still independently checked.
  */
object XxHash {
  private final val P1 = -7046029288634856825L
  private final val P2 = -4417276706812531889L
  private final val P3 = 1609587929392839161L
  private final val P4 = -8796714831421723037L
  private final val P5 = 2870177450012600261L

  def hashString(s: String): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L)

  def hashBytes(data: Array[Byte], seed: Long): Long = {
    val length = data.length
    var offset = 0
    var hash: Long =
      if (length >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (offset + 32 <= length) {
          v1 = round(v1, getLong(data, offset))
          v2 = round(v2, getLong(data, offset + 8))
          v3 = round(v3, getLong(data, offset + 16))
          v4 = round(v4, getLong(data, offset + 24))
          offset += 32
        }
        var h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
        h = mergeRound(h, v1); h = mergeRound(h, v2)
        h = mergeRound(h, v3); h = mergeRound(h, v4)
        h
      } else seed + P5
    hash += length
    while (offset + 8 <= length) {
      hash ^= round(0L, getLong(data, offset))
      hash = java.lang.Long.rotateLeft(hash, 27) * P1 + P4
      offset += 8
    }
    if (offset + 4 <= length) {
      hash ^= (getInt(data, offset) & 0xffffffffL) * P1
      hash = java.lang.Long.rotateLeft(hash, 23) * P2 + P3
      offset += 4
    }
    while (offset < length) {
      hash ^= (data(offset) & 0xffL) * P5
      hash = java.lang.Long.rotateLeft(hash, 11) * P1
      offset += 1
    }
    hash ^= hash >>> 33
    hash *= P2
    hash ^= hash >>> 29
    hash *= P3
    hash ^ (hash >>> 32)
  }

  private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * P2, 31) * P1

  private def mergeRound(h0: Long, v: Long): Long =
    (h0 ^ round(0L, v)) * P1 + P4

  private def getLong(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) | ((d(i + 1) & 0xffL) << 8) | ((d(i + 2) & 0xffL) << 16) |
      ((d(i + 3) & 0xffL) << 24) | ((d(i + 4) & 0xffL) << 32) |
      ((d(i + 5) & 0xffL) << 40) | ((d(i + 6) & 0xffL) << 48) | ((d(i + 7) & 0xffL) << 56)

  private def getInt(d: Array[Byte], i: Int): Int =
    (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8) | ((d(i + 2) & 0xff) << 16) | ((d(i + 3) & 0xff) << 24)
}
