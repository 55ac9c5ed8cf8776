package graft.corpus

import org.apache.spark.sql.{Dataset, SparkSession}

/** One row of the primary input table (BASELINE.json `input_hint`):
  * `(image_id string, bytes binary, w int, h int, fmt string,
  *   caption string, phash long)`.
  */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** Deterministic synthetic image+caption corpus (FIXTURES.md F1).
  *
  * Every field is a pure function of (row index, seed) — the reference's
  * row-keyed determinism trick (`provider/DataGenerator.scala:44-52`:
  * `xxhash64(id, seed)` instead of partition-dependent `rand(seed)`) — so the
  * corpus is byte-identical at local[8] vs local[32], which the determinism
  * spec (FIXTURES.md F5) and the scaling bench both rely on.
  *
  * Content is engineered to exercise the whole rule surface: planted
  * emails/phones/SSNs/lexicon hits, null/empty/repetitive/symbol-soup
  * captions, insane dimensions, junk formats, multi-language marker words,
  * and hot phash clusters (skew for the salting path). Image bytes carry real
  * format magic numbers with deterministic payloads; the pipeline never
  * re-encodes them (byte-equality on kept rows is strictly stronger than the
  * PSNR>=40dB invariant — SURVEY §7.4.3).
  */
object SyntheticImages {

  /** Generator version — BUMP on any change to row content/derivation so
    * disk caches keyed on it (Bench's /tmp corpus) invalidate themselves. */
  val Version = 2

  val formats = Seq("png", "jpeg", "bmp", "webp")

  private val wordlists: Map[String, Array[String]] = Map(
    "en" -> "the and of with this that for is photo cat dog table light mountain sky river grass flower street night bridge autumn view sand portrait wall fence park sunny children".split(" "),
    "es" -> "el la los las una que por con es foto gato perro mesa luz montaña cielo río hierba flor calle noche puente otoño vista arena retrato pared parque niños".split(" "),
    "fr" -> "le les des une est que pour avec dans photo chat chien table lumière montagne ciel rivière herbe fleur rue nuit pont automne vue sable portrait mur parc enfants".split(" "),
    "de" -> "der die das und ist mit ein nicht für foto katze hund tisch licht berg himmel fluss gras blume straße nacht brücke herbst blick sand porträt wand park kinder".split(" "),
    "zh" -> "的 是 不 了 在 人 有 我 他 照片 猫 狗 桌子 光 山 天空 河 草 花 街道 夜晚 桥 秋天 风景 沙 肖像 墙 公园 孩子".split(" "),
  )

  private def mix(seed: Long, i: Long): Long =
    graft.util.SplitMix64.mix(seed * graft.util.SplitMix64.Gamma + i)

  /** Small deterministic PRNG stream keyed by (seed, row index, stream id). */
  private final class Rng(seed: Long, i: Long) {
    private var state = mix(seed, i)
    def nextLong(): Long = { state = mix(state, 0x2545f4914f6cdd1dL); state }
    def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Deterministic image payload with a correct magic number per format.
    * PNG/JPEG/WEBP payloads are pseudo-bytes (the decode step downstream is a
    * documented stub); BMP is a real, valid uncompressed 2x2 24-bit bitmap.
    */
  private def makeBytes(fmt: String, rng: Rng): Array[Byte] = {
    val magic: Array[Byte] = fmt match {
      case "png" => Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      case "jpeg" => Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
      case "webp" => "RIFF0000WEBP".getBytes
      case "bmp" =>
        // valid 2x2 24bpp BMP: 14-byte file header + 40-byte info header + 16 px bytes
        val b = java.nio.ByteBuffer.allocate(70).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
        b.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
        b.putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
        (0 until 16).foreach(_ => b.put((rng.nextInt(256) - 128).toByte))
        return b.array()
      case _ => Array(0x4d, 0x5a).map(_.toByte) // junk ("MZ")
    }
    val payload = new Array[Byte](16 + rng.nextInt(48))
    var i = 0
    while (i < payload.length) { payload(i) = (rng.nextInt(256) - 128).toByte; i += 1 }
    magic ++ payload
  }

  /** (caption, language) — language is null for null/empty/soup captions.
    * Exposed so specs can measure langid accuracy against the true label.
    */
  private def makeCaption(rng: Rng): (String, String) = {
    val roll = rng.nextDouble()
    if (roll < 0.03) return (null, null)
    if (roll < 0.05) return ("", null)
    val lang = {
      val r = rng.nextDouble() // skewed: en-heavy (hot-language skew, SURVEY §7.4.4)
      if (r < 0.55) "en" else if (r < 0.70) "es" else if (r < 0.82) "fr" else if (r < 0.93) "de" else "zh"
    }
    val words = wordlists(lang)
    if (roll < 0.09) { // high repetition
      val w = words(rng.nextInt(words.length))
      return (Array.fill(20 + rng.nextInt(20))(w).mkString(" "), lang)
    }
    if (roll < 0.12) { // symbol soup
      val syms = "$#@!%^&*()=+~"
      return (Array.fill(15 + rng.nextInt(20))(syms(rng.nextInt(syms.length))).mkString(" "), null)
    }
    if (roll < 0.14) return (words(rng.nextInt(words.length)), lang) // too few words
    if (roll < 0.15) return ("a" * (8 + rng.nextInt(10)) + " run of chars here", "en") // char run
    val n = 6 + rng.nextInt(15)
    val base = (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" ")
    val plant = rng.nextDouble()
    val cap =
      if (plant < 0.05) s"$base contact me at user${rng.nextInt(999)}@example.com please"
      else if (plant < 0.08) s"$base call +1 555-${100 + rng.nextInt(900)}-${1000 + rng.nextInt(9000)} now"
      else if (plant < 0.10) s"$base ssn ${100 + rng.nextInt(900)}-${10 + rng.nextInt(90)}-${1000 + rng.nextInt(9000)} leaked"
      else if (plant < 0.12) s"$base ${graft.functions.Scrubber.lexicon(rng.nextInt(graft.functions.Scrubber.lexicon.size))} content"
      else base
    (cap, lang)
  }

  /** Pure row generator — the single source of truth shared by the Spark
    * generator and any driver-side check.
    */
  def row(i: Long, seed: Long): ImageRow = rowWithLang(i, seed)._1

  /** Row with bytes generation optionally skipped (bytes = null). Safe for
    * column pruning: `makeBytes` draws from the rng AFTER every other field,
    * so skipping it changes nothing else — the DSv2 corpus source
    * ([[graft.sources.v2.CorpusSource]]) uses this when `bytes` is pruned.
    */
  def row(i: Long, seed: Long, withBytes: Boolean): ImageRow =
    rowWithLang(i, seed, withBytes)._1

  /** Row plus its true caption language (null when corrupted) — spec use. */
  def rowWithLang(i: Long, seed: Long, withBytes: Boolean = true): (ImageRow, String) = {
    val rng = new Rng(seed, i)
    val (caption, trueLang) = makeCaption(rng)
    val dimRoll = rng.nextDouble()
    val (w, h) =
      if (dimRoll < 0.02) (Seq(0, -1, 1000000)(rng.nextInt(3)), 64 + rng.nextInt(512))
      else if (dimRoll < 0.04) (64 + rng.nextInt(512), Seq(0, -7, 2000000)(rng.nextInt(3)))
      else if (dimRoll < 0.06) (4096 + rng.nextInt(512), 16 + rng.nextInt(32)) // extreme aspect
      else (16 + rng.nextInt(4080), 16 + rng.nextInt(4080))
    val fmt =
      if (rng.nextDouble() < 0.02) Seq("exe", "tiff", "raw")(rng.nextInt(3))
      else formats(Seq(0, 0, 0, 0, 0, 1, 1, 2, 2, 3)(rng.nextInt(10)))
    // phash: hot clusters — cluster 0 gets ~20% of rows (dedup/skew fixture)
    val cRoll = rng.nextDouble()
    val cluster =
      if (cRoll < 0.20) 0L
      else if (cRoll < 0.30) 1L + rng.nextInt(4)
      else 5L + java.lang.Math.floorMod(rng.nextLong(), 100000L)
    val phash = cluster * 64L + rng.nextInt(4) // near-duplicates share high bits
    val bytes = if (withBytes) makeBytes(fmt, rng) else null
    (ImageRow(f"IMG$i%012d", bytes, w, h, fmt, caption, phash), trueLang)
  }

  /** Distributed generator: `spark.range` (Catalyst Range — splittable,
    * no driver materialization) mapped through the pure row function.
    */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L, partitions: Int = 0): Dataset[ImageRow] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(n)
    base.as[Long].map(i => row(i, seed))
  }
}
