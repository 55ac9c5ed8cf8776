package graft.generator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative synthetic-data generation — the reference's PRIMARY function
  * (data-caterer generates test data from field specs), recast Spark-first:
  * a [[FieldSpec]] list compiles to ONE projection over `spark.range`
  * (exactly the reference's range→selectExpr architecture,
  * `core/generator/DataGeneratorFactory.scala:25-52`), with all randomness
  * row-identity-keyed via `xxhash64(seed, __index)` so output is independent
  * of partitioning (`provider/DataGenerator.scala:44-52`).
  *
  * Everything is a Catalyst Column — no UDFs — so generation stays inside
  * WholeStageCodegen and scales linearly with cores.
  */
sealed trait FieldSpec {
  def name: String
  /** Compile to a Column given the deterministic per-row uniform [0,1)
    * and the generation seed (for specs that need more entropy than one
    * uniform, e.g. the md5 chain of [[AlphaNumField]]). */
  def toColumn(u: Column, idx: Column, seed: Long): Column
  /** Full hook for specs needing MANY independent uniforms (e.g. one per
    * generated character, [[RegexField]]); default derives the single
    * field-keyed uniform and delegates.
    */
  def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column =
    toColumn(uniform(name, seed, idx), idx, seed)
}

/** String matching a regex pattern (the reference's most-used string
  * generator, FastDataGenerator.scala:71-128) — compiled by [[RegexGen]] to
  * a pure Column expression; every character draw is keyed
  * (seed, "name#node.pos", idx), so generation is deterministic and
  * partitioning-invariant (the reference uses RAND(), which is neither).
  * Unsupported constructs throw at spec-construction time.
  */
final case class RegexField(name: String, pattern: String) extends FieldSpec {
  private val parts = RegexGen.parse(pattern) // fail fast on unsupported regex
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("RegexField uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column =
    RegexGen.toColumn(parts, key => uniform(s"$name#$key", seed, idx))
}

/** Deterministic binary payload: 16 bytes = unhex(md5(draw)) — the
  * reference's binary type generates random bytes
  * (`RandomDataGenerator.scala` binary case); here keyed off the row
  * uniform so it is partitioning-invariant like every other field. */
final case class BytesField(name: String) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    unhex(md5(u.cast("string")))
}

/** Uniform long in [lo, hi]. */
final case class IntField(name: String, lo: Long, hi: Long) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    (lit(lo) + (u * (hi - lo + 1)).cast("long")).cast("long")
}

/** Uniform double in [lo, hi). */
final case class DoubleField(name: String, lo: Double, hi: Double) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = lit(lo) + u * (hi - lo)
}

/** Exponential via inverse-CDF -ln(1-u)/rate (the reference's distribution
  * trick, RandomDataGenerator.scala:642-649). */
final case class ExponentialField(name: String, rate: Double) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = -log(lit(1.0) - u) / rate
}

/** Weighted categorical (oneOf). */
final case class OneOfField(name: String, values: Seq[(String, Double)]) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = {
    val total = values.map(_._2).sum
    val cum = values.scanLeft(0.0)(_ + _._2).tail
    val scaled = u * total
    cum.zip(values).foldRight(lit(values.last._1): Column) {
      case ((c, (v, _)), acc) => when(scaled < c, lit(v)).otherwise(acc)
    }
  }
}

/** Sequential values: prefix + zero-padded row index (unique by construction).
  * Indices WIDER than `pad` keep their full digits — Spark's `lpad` would
  * otherwise truncate to the first `pad` chars, which collapses the 64-bit
  * hashed member indices the perField/fan-out paths use as identities
  * (~2^37 effective space after truncation → birthday collisions at ~10^5
  * rows, breaking the uniqueness contract). */
final case class SequentialField(name: String, prefix: String, pad: Int) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = {
    val s = idx.cast("string")
    concat(lit(prefix), when(length(s) < pad, lpad(s, pad, "0")).otherwise(s))
  }
}

/** Random alphanumeric string of length in [minLen, maxLen] — md5-chain
  * based, no UDF (the reference's fast-mode philosophy,
  * FastDataGenerator.scala:104-110). */
final case class AlphaNumField(name: String, minLen: Int, maxLen: Int) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("AlphaNumField uses toColumnWith")
  // content chain built FROM the keyed uniforms (one per md5 block), so the
  // full key path applies: two same-named AlphaNum fields in different
  // structs, or array positions of an AlphaNum element, draw independent
  // strings (the bare (seed, name, idx) chain used before ignored the
  // nesting path and aliased all of those).
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val u = uniform(name, seed, idx)
    val len = (lit(minLen) + (u * (maxLen - minLen + 1)).cast("int"))
    val blocks = (maxLen / 32) + 1
    val full = concat((0 until blocks).map(b =>
      md5(concat(uniform(s"$name#chain$b", seed, idx).cast("string"), lit("|"),
        idx.cast("string")))): _*)
    substring(full, 1, maxLen).substr(lit(1), len)
  }
}

/** Faker-expression field ([[Faker]] — the reference's
  * `GENERATE_FAKER_EXPRESSION`, `DataGeneratorFactory.scala:436-437`):
  * `TemplateField("owner", "#{Name.name} from #{Address.city}")`. Each
  * directive occurrence is keyed by its token position
  * (`field#t<i>.<sub>`), so `"#{Name.firstName} #{Name.firstName}"` draws
  * two INDEPENDENT names — datafaker semantics.
  */
final case class TemplateField(name: String, template: String) extends FieldSpec {
  private val tokens = Faker.parse(template) // fail fast on bad templates
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("TemplateField uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val cols = tokens.zipWithIndex.map {
      case (Faker.Lit(s), _) => lit(s)
      case (Faker.Directive(k), i) =>
        Faker.directiveColumn(k, sub => uniform(s"$name#t$i.$sub", seed, idx))
    }
    if (cols.size == 1) cols.head else concat(cols: _*)
  }
}

/** Uniqueness-by-construction wrapper for generators whose draw space is
  * smaller than the row count (the reference's `isUnique` on faker
  * expressions — its engine dedups duplicates per batch and regenerates,
  * `core/util/UniqueFieldsUtil.scala:23-60`; a projection can't regenerate,
  * so the row index splices INTO the value instead: email-shaped values get
  * `local.<idx>@domain`, anything else appends `-<idx>`). Unique at any
  * scale, zero shuffle, still one codegen'd projection. */
final case class UniqueizeSpec(inner: FieldSpec) extends FieldSpec {
  def name: String = inner.name
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("UniqueizeSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val v = inner.toColumnWith(uniform, seed, idx)
    val i = idx.cast("string")
    when(v.contains("@"),
      concat(substring_index(v, "@", 1), lit("."), i, lit("@"), substring_index(v, "@", -1)))
      .otherwise(concat(v, lit("-"), i))
  }
}

/** Date in [start, start+days). */
final case class DateField(name: String, start: String, days: Int) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    date_add(to_date(lit(start)), (u * days).cast("int"))
}

/** Timestamp in [start, start+seconds). */
final case class TimestampField(name: String, start: String, seconds: Long) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    timestamp_seconds(unix_timestamp(to_timestamp(lit(start))) + (u * seconds).cast("long"))
}

/** Decimal in [0, 10^(p-s)) rendered at exactly (precision, scale) — the
  * reference's `decimal(5,2)` field type; headroom keeps scale-rounding
  * from overflowing the precision. */
final case class DecimalField(name: String, precision: Int, scale: Int) extends FieldSpec {
  require(precision > 0 && scale >= 0 && scale <= precision,
    s"decimal $name: bad (precision, scale) = ($precision, $scale)")
  def toColumn(u: Column, idx: Column, seed: Long): Column = {
    val hi = math.pow(10, math.min(precision - scale, 9)) - 2 * math.pow(10, -scale)
    (u * math.max(hi, 0.0)).cast(s"decimal($precision,$scale)")
  }
}

/** Map of `minLen..maxLen` generated entries via `map_from_entries` over
  * the same bounded unrolling as [[ArraySpec]] — keys drawn per position
  * (duplicate keys would make map_from_entries throw; key specs should
  * carry enough entropy or the map stays small). */
final case class MapSpec(name: String, key: FieldSpec, value: FieldSpec,
    minLen: Int, maxLen: Int) extends FieldSpec {
  require(minLen >= 0 && maxLen >= minLen, s"map $name: bad bounds")
  require(!Generator.hasSqlDeep(key) && !Generator.hasSqlDeep(value),
    s"map $name: computed (sql) fields inside map entries are not supported")
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("MapSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val entries = Generator.boundedArray(uniform, s"$name#len", seed, idx, minLen, maxLen) { j =>
      struct(
        key.toColumnWith((n, s, i) => uniform(s"$name[$j].key.$n", s, i), seed, idx).as("key"),
        value.toColumnWith((n, s, i) => uniform(s"$name[$j].value.$n", s, i), seed, idx).as("value"))
    }
    // low-entropy key types (dates, booleans) WILL draw duplicate keys, and
    // map_from_entries throws on them by default — keep the FIRST entry per
    // key (tiny arrays: the interpreted HOF is negligible)
    map_from_entries(filter(entries, (e, i) =>
      !exists(slice(entries, lit(1), i), p => p("key") === e("key"))))
  }
}

/** Map with FIXED keys — the reference's `map<K,V>` fields carrying a
  * `fields:` list (e.g. kafka `headers`), where each listed field is one
  * entry: key = field name, value = the field's generator. Entries MAY be
  * computed (sql over frame columns, e.g. `body.event_type`) — such maps
  * build in [[Generator.generate]]'s late stage. */
final case class FixedMapSpec(name: String, entries: Seq[FieldSpec],
    keyType: String = "string", valueType: String = "string") extends FieldSpec {
  require(entries.nonEmpty, s"map $name: needs entries")
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("FixedMapSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    require(!Generator.hasSqlDeep(this),
      s"map $name: contains computed (sql) entries — generate it through " +
        "Generator.generate, which applies those in the late stage")
    map_from_arrays(
      array(entries.map(e => lit(e.name).cast(keyType)): _*),
      array(entries.map(e =>
        e.toColumnWith((n, s, i) => uniform(s"$name.$n", s, i), seed, idx).cast(valueType)): _*))
  }
}

/** Wraps another spec with a cast to an exact DDL type — DDL-declared
  * scalars (`int`, `float`, `boolean`) must come out AS DECLARED, not as
  * the inner generator's natural type (IntField emits bigint). */
final case class CastSpec(inner: FieldSpec, ddlType: String) extends FieldSpec {
  def name: String = inner.name
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    inner.toColumn(u, idx, seed).cast(ddlType)
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column =
    inner.toColumnWith(uniform, seed, idx).cast(ddlType)
}

/** Gaussian numeric (the reference's `mean`+`stddev` options and
  * `distribution: normal`, RandomDataGenerator.scala:639-644 — RANDN
  * rescaled): Box–Muller over two keyed uniforms, so it is deterministic
  * and partitioning-invariant where the reference's RANDN is neither. */
final case class NormalField(name: String, mean: Double, stddev: Double) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("NormalField uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val u1 = uniform(name, seed, idx)
    val u2 = uniform(s"$name#bm", seed, idx)
    // z ~ N(0,1); log(1-u1) is safe: u1 in [0,1) keeps the argument in (0,1]
    sqrt(log(lit(1.0) - u1) * -2.0) * cos(u2 * (2.0 * math.Pi)) * stddev + mean
  }
}

/** Range-clamped exponential (the reference's `distribution: exponential`
  * with `distributionRateParam`, RandomDataGenerator.scala:645-646:
  * GREATEST(min, LEAST(max, diff * (-LN(1-u)/rate) + min))). */
final case class ExpRangeField(name: String, lo: Double, hi: Double, rate: Double) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    greatest(lit(lo), least(lit(hi), (-log(lit(1.0) - u) / rate) * (hi - lo) + lo))
}

/** `start + __index_inc` (the reference's `incremental` numeric option,
  * RandomDataGenerator.scala:630-638): unique, monotone with the row
  * index, collision-free by construction. */
final case class IncrementalField(name: String, start: Long) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = (lit(start) + idx).cast("long")
}

/** Date uniform over the WEEKDAYS of [start, start+days) (the reference's
  * `dateExcludeWeekends`, RandomDataGenerator.scala:233-252). The
  * reference builds SEQUENCE+FILTER at runtime; the range is a literal, so
  * the weekday list is computed once here and the column is a single
  * codegen'd element_at — no higher-order functions per row. Falls back to
  * the plain uniform date when the range has no weekdays. */
final case class WeekdayDateField(name: String, start: String, days: Int) extends FieldSpec {
  private val weekdays: Seq[java.sql.Date] = {
    val s = java.time.LocalDate.parse(start)
    (0 until math.max(days, 1)).map(s.plusDays(_))
      .filter(d => d.getDayOfWeek != java.time.DayOfWeek.SATURDAY &&
        d.getDayOfWeek != java.time.DayOfWeek.SUNDAY)
      .map(java.sql.Date.valueOf)
  }
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    if (weekdays.isEmpty) date_add(to_date(lit(start)), (u * math.max(days, 1)).cast("int"))
    else element_at(array(weekdays.map(lit): _*), (u * weekdays.size).cast("int") + 1)
}

/** Random subset WITHOUT repetition of a fixed value list (the reference's
  * `arrayUniqueFrom`, RandomDataGenerator.scala:400-405:
  * SLICE(SHUFFLE(values))): per-row shuffle = sort the literal list by a
  * row-keyed hash of each value, then slice to a drawn length. The list is
  * tiny and literal, so the interpreted sort lambda is negligible. */
final case class UniqueFromArrayField(name: String, values: Seq[String],
    minLen: Int, maxLen: Int) extends FieldSpec {
  require(values.nonEmpty, s"array $name: arrayUniqueFrom needs values")
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("UniqueFromArrayField uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val mx = math.min(math.max(maxLen, 0), values.size)
    val mn = math.min(math.max(minLen, 0), mx)
    val len = (lit(mn) + (uniform(s"$name#len", seed, idx) * (mx - mn + 1)).cast("int"))
    val salt = (uniform(s"$name#shuffle", seed, idx) * (1L << 40)).cast("long")
    val keyed = transform(array(values.map(lit): _*),
      v => struct(xxhash64(v, salt).as("h"), v.as("v")))
    slice(transform(array_sort(keyed), s => s.getField("v")), lit(1), len)
  }
}

/** UUID-shaped string (the reference's `uuid` field option,
  * TaskBuilder.scala:1795-1810,1992-2001: md5 of a driving value formatted
  * 8-4-4-4-12; bare `uuid()` is Spark's UUID() there — nondeterministic).
  * Here the bare form drives off the keyed row hash, so it is unique per
  * row, deterministic, and partitioning-invariant. The uuid-from-field and
  * uuid+incremental variants become [[SqlField]]s at parse time (they
  * reference other columns). */
final case class UuidField(name: String) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = {
    val h = md5(concat(lit(seed.toString), lit("|uuid|"), lit(name), lit("|"), idx.cast("string")))
    concat(substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
      substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"), substring(h, 21, 12))
  }
}

/** ROUND(inner, digits) (the reference's numeric `round` option,
  * RandomDataGenerator.scala:651-655). */
final case class RoundWrapSpec(inner: FieldSpec, digits: Int) extends FieldSpec {
  def name: String = inner.name
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    round(inner.toColumn(u, idx, seed), digits)
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column =
    round(inner.toColumnWith(uniform, seed, idx), digits)
}

/** Probabilistic edge-case / null injection around any plain generator
  * (the reference's `enableEdgeCase`/`edgeCaseProb` and
  * `enableNull`/`nullProb` field options, DataGenerator.scala:54-69): one
  * band draw selects edge-case [0, pEdge), null [pEdge, pEdge+pNull), or
  * the generated value. The reference picks ONE edge case per field via an
  * unseeded driver-side random; here each ROW draws from the list, keyed —
  * deterministic and strictly more varied. Only wraps NON-computed specs
  * (construction-checked): a computed inner would need the late stage. */
final case class EdgeNullWrapSpec(inner: FieldSpec, edgeProb: Double,
    nullProb: Double, edges: Seq[Column]) extends FieldSpec {
  require(!Generator.hasSqlDeep(inner),
    s"${inner.name}: enableNull/enableEdgeCase on computed (sql) fields is not supported")
  require(edgeProb >= 0 && nullProb >= 0 && edgeProb + nullProb <= 1.0,
    s"${inner.name}: bad edge/null probabilities ($edgeProb, $nullProb)")
  def name: String = inner.name
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("EdgeNullWrapSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val band = uniform(s"$name#band", seed, idx)
    val base = inner.toColumnWith(uniform, seed, idx)
    val withEdge =
      if (edgeProb > 0 && edges.nonEmpty) {
        val pick = uniform(s"$name#edgepick", seed, idx)
        when(band < edgeProb, element_at(array(edges: _*), (pick * edges.size).cast("int") + 1))
      } else when(lit(false), lit(null))
    withEdge.when(band < edgeProb + nullProb, lit(null)).otherwise(base)
  }
}

/** Empty-array injection (the reference's `arrayEmptyProb`,
  * RandomDataGenerator.scala:361-368): with probability p the array is
  * empty — emitted as a zero-length slice of the generated array so the
  * element type is preserved without knowing its DDL (the generated
  * expression is deterministic per row, so referencing it twice is safe). */
final case class EmptyArrayWrapSpec(inner: FieldSpec, p: Double) extends FieldSpec {
  require(!Generator.hasSqlDeep(inner),
    s"${inner.name}: arrayEmptyProb on arrays with computed elements is not supported")
  def name: String = inner.name
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("EmptyArrayWrapSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    val base = inner.toColumnWith(uniform, seed, idx)
    when(uniform(s"$name#empty", seed, idx) < p, slice(base, 1, 0)).otherwise(base)
  }
}

/** Per-type edge-case literal lists (mirroring the reference's
  * RandomDataGenerator edgeCases vals: numeric extremes and zero, IEEE
  * specials, epoch/calendar boundary dates, degenerate strings). */
object EdgeCases {
  def forType(typ: String): Seq[Column] = typ.toLowerCase match {
    // "alphanum" is the plain random-string generator (the legacy dialect's
    // `type: string` maps to it) -- same edge list as "string"; patterned
    // generators (regex/template/oneOf) get NO edge literals, matching the
    // reference where only RandomStringDataGenerator overrides `edgeCases`
    case "string" | "alphanum" => Seq("", "\n", "\r", "\t", " ", "\u0000").map(lit(_))
    case "int" | "integer" => Seq(Int.MaxValue, Int.MinValue, 0).map(lit(_))
    case "long" => Seq(Long.MaxValue, Long.MinValue, 0L).map(lit(_))
    case "short" => Seq(Short.MaxValue, Short.MinValue, 0.toShort).map(v => lit(v).cast("smallint"))
    case "byte" => Seq(Byte.MaxValue, Byte.MinValue).map(v => lit(v).cast("tinyint"))
    case "double" | "number" => Seq(Double.PositiveInfinity, Double.MaxValue,
      Double.MinPositiveValue, 0.0, -0.0, Double.MinValue, Double.NegativeInfinity,
      Double.NaN).map(lit(_))
    case "float" => Seq(Float.PositiveInfinity, Float.MaxValue, Float.MinPositiveValue,
      0.0f, -0.0f, Float.MinValue, Float.NegativeInfinity, Float.NaN).map(lit(_))
    case "date" => Seq("0001-01-01", "1582-10-15", "1970-01-01", "9999-12-31")
      .map(d => lit(java.sql.Date.valueOf(d)))
    case "timestamp" => Seq("0001-01-01 00:00:00", "1582-10-15 23:59:59",
      "1970-01-01 00:00:00", "9999-12-31 23:59:59")
      .map(t => lit(java.sql.Timestamp.valueOf(t)))
    case _ => Nil // boolean/decimal/complex: no meaningful edge literals
  }
}

/** Computed column: arbitrary SQL over previously generated fields (the
  * reference's computed-column stage, GeneratorUtil.scala:93-269). Computed
  * fields may reference each other in ANY listed order — [[Generator]]
  * topologically sorts them by their column references (the reference's
  * dependency leveling) and rejects cycles. */
final case class SqlField(name: String, sql: String) extends FieldSpec {
  def toColumn(u: Column, idx: Column, seed: Long): Column = expr(sql)
}

/** Nested struct: children generate with uniforms keyed by the full dotted
  * path (`parent.child`), so nesting never aliases sibling randomness — the
  * reference builds nested structs in `DataGeneratorFactory.scala:199-336`.
  * [[SqlField]] children ARE allowed (the reference's nested computed
  * fields) — structs containing them are built by [[Generator.generate]]'s
  * second projection stage, where the SQL can reference any top-level
  * generated column; calling `toColumnWith` directly on such a struct
  * throws. */
final case class StructSpec(name: String, children: Seq[FieldSpec]) extends FieldSpec {
  require(children.nonEmpty, s"struct $name: needs children")
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("StructSpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    require(!Generator.hasSqlDeep(this),
      s"struct $name: contains computed (sql) children — generate it through " +
        "Generator.generate, which applies those in the second projection stage")
    struct(children.map(c =>
      c.toColumnWith((n, s, i) => uniform(s"$name.$n", s, i), seed, idx).as(c.name)): _*)
  }
}

/** Array of `minLen..maxLen` generated elements. Element draws are keyed by
  * `name[position].element`; the bounded unrolling (maxLen columns, sliced
  * to the drawn length) keeps generation a pure projection — no explode, no
  * UDF (same technique as [[RegexGen.toColumn]]). */
final case class ArraySpec(name: String, element: FieldSpec, minLen: Int, maxLen: Int) extends FieldSpec {
  require(minLen >= 0 && maxLen >= minLen,
    s"array $name: bad bounds [$minLen, $maxLen]")
  // elements MAY contain computed (sql) children — such arrays build in
  // Generator.generate's late stage with ELEMENT-scoped resolution: sql
  // referencing `<arrayName>.<sibling>` sees the sibling's value in the
  // SAME element (the reference's multi-level lambda rewriting,
  // GeneratorUtil.scala:275-414), while references to frame columns stay
  // row-scoped
  def toColumn(u: Column, idx: Column, seed: Long): Column =
    throw new UnsupportedOperationException("ArraySpec uses toColumnWith")
  override def toColumnWith(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column = {
    require(!Generator.hasSqlDeep(element),
      s"array $name: contains computed (sql) children — generate it through " +
        "Generator.generate, which applies those in the second projection stage")
    Generator.boundedArray(uniform, s"$name#len", seed, idx, minLen, maxLen) { j =>
      element.toColumnWith((n, s, i) => uniform(s"$name[$j].$n", s, i), seed, idx)
    }
  }
}

object Generator {

  /** Per-field deterministic uniform: xxhash64(seed, field name, row index)
    * normalized to [0,1). Row-keyed → parallelism-invariant; field-keyed →
    * fields are independent. The default (fast, codegen'd) source.
    */
  def xxhashUniform(fieldName: String, seed: Long, idx: Column): Column =
    (pmod(xxhash64(lit(seed), lit(fieldName), idx), lit(1L << 40)).cast("double")
      / lit((1L << 40).toDouble))

  /** Engine-portable uniform: 16 bits from the first 4 md5 hex digits,
    * decoded by ascii arithmetic (the same trick as Dedup.simhash16 —
    * works identically in DuckDB, which lacks xxhash64 and hex→int casts).
    * Used by the oracle-checked generator queries; coarser (2^16 grid) but
    * plenty for bucketing/categorical draws.
    */
  def portableUniform(fieldName: String, seed: Long, idx: Column): Column = {
    val h = md5(concat(lit(seed.toString), lit("|"), lit(fieldName), lit("|"), idx.cast("string")))
    val hexv = (c: Column) => when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)
    val v = hexv(substring(h, 1, 1)) * 4096 + hexv(substring(h, 2, 1)) * 256 +
      hexv(substring(h, 3, 1)) * 16 + hexv(substring(h, 4, 1))
    v.cast("double") / lit(65536.0)
  }

  /** Generate `n` rows from the specs. Computed (Sql) fields are applied in
    * a second projection so they can reference any generated field.
    * `nullProbability` per-field nulls (reference nullability strategy).
    */
  def generate(
      spark: SparkSession,
      n: Long,
      specs: Seq[FieldSpec],
      seed: Long = 42L,
      partitions: Int = 0,
      nullProb: Map[String, Double] = Map.empty,
      uniform: (String, Long, Column) => Column = xxhashUniform): DataFrame = {
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(n)
    buildFrom(base.toDF(), col("id"), specs, seed, nullProb, uniform, Nil)
  }

  /** Core of [[generate]] over an ARBITRARY base frame and row-identity
    * expression: `idx` drives every keyed draw (any per-row-distinct
    * deterministic value works — all draws hash it again), `carry` columns
    * of the base ride through unchanged (per-group fields of
    * [[generatePerField]] / FK fields of [[fanOutChildren]]). */
  private[graft] def buildFrom(
      base: DataFrame,
      idx: Column,
      specs: Seq[FieldSpec],
      seed: Long,
      nullProb: Map[String, Double],
      uniform: (String, Long, Column) => Column,
      carry: Seq[String]): DataFrame = {
    // LATE specs — top-level SqlFields AND structs containing nested sql
    // children (the reference's nested computed fields) — apply in a second
    // projection over the full frame
    val (plain, late) = specs.partition(s => !hasSqlDeep(s))
    // the per-field null draw: keyed by the field's name and the row index
    def withNulls(name: String, index: Column, c: Column): Column = nullProb.get(name) match {
      case Some(p) => when(uniform(name + "\u0000null", seed, index) < p, lit(null)).otherwise(c)
      case None => c
    }
    val cols = plain.map(s => withNulls(s.name, idx, s.toColumnWith(uniform, seed, idx)).as(s.name))
    // carried names may be dotted (nested perField group paths) — backtick
    // so they stay single-column references
    val df = base.select((carry.map(n => col(s"`$n`")) ++ (idx.as("__index_inc") +: cols)): _*)
    // the late stage runs over the projected frame, where the row index
    // column is named __index_inc (not the range's `id`); nullProb applies
    // to late specs the same way it does to plain ones.
    //
    // Stage A: PLAIN SUBSETS. A late spec referenced by another late
    // spec's sql pre-stages its non-computed part under its final name, so
    // cross-spec references to plain paths (`body.event_type` from inside
    // `headers`, `transactions.txn_date` from a sibling sql) resolve
    // WITHOUT an ordering edge — this is what lets mutually-referencing
    // specs build (the reference's kafka body ↔ headers: headers reads
    // body's plain fields, body's metadata reads headers' plain entries)
    // as long as the COMPUTED-path dependency graph stays acyclic.
    val lateIdx = col("__index_inc")
    val referencedHeads: Set[String] = late.flatMap(s => refHeads(s) - s.name).toSet
    val preStaged = late.filter(s => referencedHeads.contains(s.name)).flatMap(plainSubset)
    val df1 = preStaged.foldLeft(df) { (d, ps) =>
      // same null draw (key + index) as the spec's final stage-B build:
      // a cross-spec reference must see null exactly where the finished
      // column is null, not the pre-null staged value
      d.withColumn(ps.name, withNulls(ps.name, lateIdx, ps.toColumnWith(uniform, seed, lateIdx)))
    }
    // Stage B: full builds in computed-dependency order ([[topoOrder]] —
    // edges only for references that TOUCH a computed path; plain-path
    // references were satisfied by stage A). Each hybrid spec builds in a
    // single projection with sibling/element references substituted
    // in-expression ([[scopedColumn]]).
    val out = topoOrder(late).foldLeft(df1) { case (d, s) =>
      d.withColumn(s.name, withNulls(s.name, lateIdx, scopedColumn(s, uniform, seed, lateIdx, Nil)))
    }
    out.drop("__index_inc")
  }

  /** Head names referenced by a late spec's sql texts (for deciding which
    * sibling specs need a stage-A plain stage). */
  private def refHeads(s: FieldSpec): Set[String] = sqlTexts(s).flatMap { sql =>
    try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts.head
    }
    catch { case _: Exception => Nil }
  }.toSet

  /** A spec reduced to its non-computed part (recursively) — what stage A
    * pre-stages under the spec's final name so cross-spec plain-path
    * references resolve without ordering edges. None when everything in it
    * is computed. Arrays keep their length draw key (`name#len`), so the
    * staged and final arrays have identical lengths per row. */
  private def plainSubset(s: FieldSpec): Option[FieldSpec] = s match {
    case _: SqlField => None
    case cs: CastSpec => plainSubset(cs.inner).map(i => cs.copy(inner = i))
    case st: StructSpec =>
      val kept = st.children.flatMap(plainSubset)
      if (kept.isEmpty) None else Some(StructSpec(st.name, kept))
    case ar: ArraySpec =>
      if (!hasSqlDeep(ar)) Some(ar) else plainSubset(ar.element).map(e => ar.copy(element = e))
    case fm: FixedMapSpec =>
      val kept = fm.entries.filterNot(hasSqlDeep)
      if (kept.isEmpty) None else Some(fm.copy(entries = kept))
    case other => Some(other)
  }

  /** One enclosing element scope: the array (or nested-struct) name and the
    * already-built sibling Columns of the CURRENT position, filled
    * incrementally while the element builds (the map is shared mutably so
    * deeper recursion sees later additions). */
  private final case class ElemScope(
      name: String, fields: scala.collection.mutable.Map[String, Column])

  /** Element-scoped computed fields — the reference's multi-level lambda
    * rewriting (`core/util/GeneratorUtil.scala:275-414` rewrites
    * `orders.total` into `TRANSFORM(orders, x -> ...x.amount...)` with one
    * lambda var per depth), re-expressed for the bounded unrolling: every
    * array position is already its own Column expression, so a sibling
    * reference substitutes the sibling's EXPRESSION for that position
    * directly into the parsed sql tree. No TRANSFORM, no lambda-var
    * allocation, no sql-text regex surgery — and the whole array stays one
    * codegen'd projection. Deterministic keyed uniforms make the
    * expression duplication value-safe (the same (seed, key, idx) draw
    * yields the same value wherever it is re-evaluated), exactly like the
    * reference's own inlining of computed-sibling refs.
    *
    * Scoping rules (innermost wins, mirroring the reference's
    * deepest-array-in-scope rule):
    *  - `<scopeName>.<field>[...path]` where scopeName names an enclosing
    *    array (or nested element struct) → that element's field, navigated
    *    further by `.getField`;
    *  - a bare name matching a field of any enclosing scope → that field;
    *  - lambda-bound names are never substituted;
    *  - anything else is left unresolved and resolves against the frame
    *    (row-scoped top-level refs), or fails loudly in analysis.
    */
  private[generator] def scopedColumn(s: FieldSpec,
      uniform: (String, Long, Column) => Column, seed: Long, idx: Column,
      scopes: List[ElemScope]): Column = s match {
    case sf: SqlField => substituteScopes(sf.sql, scopes)
    case st: StructSpec if hasSqlDeep(st) =>
      buildScopedStruct(st, st.name, uniform, seed, idx, scopes)
    case ar: ArraySpec if hasSqlDeep(ar) =>
      boundedArray(uniform, s"${ar.name}#len", seed, idx, ar.minLen, ar.maxLen) { j =>
        val posU = (nm: String, s2: Long, i: Column) => uniform(s"${ar.name}[$j].$nm", s2, i)
        ar.element match {
          case est: StructSpec if hasSqlDeep(est) =>
            buildScopedStruct(est, ar.name, posU, seed, idx, scopes)
          case e => scopedColumn(e, posU, seed, idx, scopes)
        }
      }
    case cs: CastSpec if hasSqlDeep(cs) =>
      scopedColumn(cs.inner, uniform, seed, idx, scopes).cast(cs.ddlType)
    case fm: FixedMapSpec if hasSqlDeep(fm) =>
      // fixed-key map with computed entries: values resolve like any other
      // scoped sql (typically row-scoped frame refs, e.g. `body.event_type`)
      map_from_arrays(
        array(fm.entries.map(e => lit(e.name).cast(fm.keyType)): _*),
        array(fm.entries.map(e =>
          scopedColumn(e, (n, s2, i) => uniform(s"${fm.name}.$n", s2, i), seed, idx, scopes)
            .cast(fm.valueType)): _*))
    case other => other.toColumnWith(uniform, seed, idx)
  }

  /** Build a struct whose children may reference already-built siblings
    * through `scopeName` (the enclosing array's name for array elements,
    * the struct's own name for nested structs): plain children first (same
    * uniform keys as the pure path), then computed children in
    * sibling-dependency order, each added to the scope as it builds so
    * later siblings (and deeper nesting) can substitute it. */
  private def buildScopedStruct(st: StructSpec, scopeName: String,
      uniform: (String, Long, Column) => Column, seed: Long, idx: Column,
      outer: List[ElemScope]): Column = {
    val fields = scala.collection.mutable.LinkedHashMap[String, Column]()
    val inner = ElemScope(scopeName, fields) :: outer
    val wrapped = (nm: String, s2: Long, i: Column) => uniform(s"${st.name}.$nm", s2, i)
    val (plainKids, sqlKids) = st.children.partition(c => !hasSqlDeep(c))
    plainKids.foreach(c => fields(c.name) = c.toColumnWith(wrapped, seed, idx))
    orderScopedKids(scopeName, sqlKids).foreach(c =>
      fields(c.name) = scopedColumn(c, wrapped, seed, idx, inner))
    struct(st.children.map(c => fields(c.name).as(c.name)): _*)
  }

  /** Sibling-dependency order for a scoped struct's computed children:
    * a reference `<scopeName>.<x>` or bare `<x>` naming a computed sibling
    * orders x first; cycles fail loudly (Kahn). */
  private def orderScopedKids(scopeName: String, kids: Seq[FieldSpec]): Seq[FieldSpec] = {
    if (kids.size <= 1) return kids
    val byName = kids.map(k => k.name -> k).toMap
    val edges = kids.flatMap { k =>
      sqlTexts(k).flatMap { sql =>
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            // dep candidates: the bare head, plus any part FOLLOWING an
            // occurrence of the scope name (full-path refs like
            // `customer_info.personal_details.first_name` name the sibling
            // after the enclosing scope, not at the head)
            val p = a.nameParts
            p.head +: p.zipWithIndex.collect {
              case (part, i) if i > 0 && p(i - 1) == scopeName => part
            }
        }.flatten
        catch { case _: Exception => Nil }
      }.distinct.filter(r => byName.contains(r) && r != k.name).map(_ -> k.name)
    }
    ForeignKeys.insertOrder(kids.map(_.name), edges.distinct).map(byName)
  }

  /** Parse `sql` and substitute scope references per [[scopedColumn]]'s
    * rules; everything unmatched stays an UnresolvedAttribute for the
    * frame/analyzer to handle. */
  private def substituteScopes(sql: String, scopes: List[ElemScope]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
    // names bound by ANY lambda in the expression are never substituted
    // (binding is positional in analysis; over-excluding globally is safe
    // because a generated field named like a lambda var would shadow
    // confusingly anyway)
    val lambdaArgs: Set[String] = parsed.collect {
      case lf: LambdaFunction => lf.arguments.map(_.name)
    }.flatten.toSet
    val substituted =
      if (scopes.isEmpty) parsed
      else parsed.transformUp {
        case a: UnresolvedAttribute =>
          resolveInScopes(a.nameParts, scopes, lambdaArgs)
            .map(GraftSqlBridge.toExpression).getOrElse(a)
      }
    val fixed = spark35Compat(substituted)
    // untouched trees go through plain expr() — identical to the pre-scope
    // behavior (and avoids the bridge round-trip)
    if (fixed eq parsed) expr(sql) else GraftSqlBridge.toColumn(fixed)
  }

  /** Spark 3.5 → 4 sql-compatibility shim for reference-authored files:
    * `aggregate(arr, 0.0, (acc, x) -> ...)` — 3.5's type coercion recast
    * the decimal-literal zero to the merge result type; 4.x fails analysis
    * (DATATYPE_MISMATCH, zero pinned at DECIMAL(1,1)). Cast such zeros to
    * double, which is what the corpus files mean (every such field is
    * declared `double`). */
  private def spark35Compat(
      e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    e.transformUp {
      case f: UnresolvedFunction
          if Seq("aggregate", "reduce").contains(f.nameParts.last.toLowerCase) &&
            f.arguments.size >= 3 =>
        f.arguments(1) match {
          case l @ Literal(_, _: DecimalType) =>
            f.copy(arguments = f.arguments.updated(1, Cast(l, DoubleType)))
          case _ => f
        }
    }
  }

  /** Resolve a dotted reference against the scope chain (innermost-first);
    * for multi-part refs the DEEPEST part naming a scope wins (the
    * reference's deepest-array-in-scope rule), with the remaining parts
    * navigated as struct field accesses. */
  private def resolveInScopes(parts: Seq[String], scopes: List[ElemScope],
      lambdaArgs: Set[String]): Option[Column] = {
    if (lambdaArgs.contains(parts.head)) return None
    if (parts.size == 1)
      scopes.collectFirst { case s if s.fields.contains(parts.head) => s.fields(parts.head) }
    else {
      val names = scopes.map(_.name).toSet
      ((parts.size - 2) to 0 by -1).find(i => names.contains(parts(i))).flatMap { i =>
        val scope = scopes.find(_.name == parts(i)).get
        val rest = parts.drop(i + 1)
        scope.fields.get(rest.head).map(c => rest.tail.foldLeft(c)(_.getField(_)))
      }
    }
  }

  /** Hard ceiling on the bounded unrolling: each element position is its own
    * column expression, so a task declaring `arrayMaxLen: 10000` would build
    * a 10k-expression tree — Janino/driver planning blows up long before the
    * data does. Per-position uniform keys embed the LITERAL index in the
    * draw key (values are part of the oracle contract), so a size-
    * independent sequence+transform rewrite would change generated data;
    * instead the limit is enforced loudly at plan-build time. */
  final val MaxUnrollLen = 1000

  /** The bounded unrolling every variable-length collection uses: maxLen
    * element columns sliced to a drawn length — ONE implementation of the
    * len/slice formula. */
  private[generator] def boundedArray(uniform: (String, Long, Column) => Column,
      lenKey: String, seed: Long, idx: Column, minLen: Int, maxLen: Int)
      (elem: Int => Column): Column = {
    require(maxLen <= MaxUnrollLen,
      s"collection '$lenKey': maxLen=$maxLen exceeds the bounded-unroll limit " +
        s"of $MaxUnrollLen elements (each position is one column expression; " +
        s"larger trees break codegen/planning). Lower the collection's max " +
        s"length or split the field.")
    val len = lit(minLen) + floor(uniform(lenKey, seed, idx) * (maxLen - minLen + 1)).cast("int")
    slice(array((0 until maxLen).map(elem): _*), lit(1), len)
  }

  /** All sql texts inside a (possibly hybrid-struct) late spec. */
  private def sqlTexts(s: FieldSpec): Seq[String] = s match {
    case sf: SqlField => Seq(sf.sql)
    case StructSpec(_, cs) => cs.flatMap(sqlTexts)
    case ArraySpec(_, e, _, _) => sqlTexts(e)
    case FixedMapSpec(_, es, _, _) => es.flatMap(sqlTexts)
    case CastSpec(inner, _) => sqlTexts(inner)
    case RoundWrapSpec(inner, _) => sqlTexts(inner)
    case _ => Nil
  }

  /** Dependency-levels computed specs (the reference's topological ordering
    * of computed columns, `GeneratorUtil.scala:93-269`): a late spec whose
    * SQL references a COMPUTED path of another late spec — directly or as
    * the base of a dotted path like `details.updated_by.time` — is applied
    * after it, whatever the listed order; cycles are rejected (Kahn, via
    * [[ForeignKeys.insertOrder]]). References that only touch the target's
    * PLAIN paths create no edge — stage A already staged those, which is
    * what lets mutually-referencing hybrid specs build. References are
    * read off the UNRESOLVED expression tree — no analysis pass needed.
    */
  private def topoOrder(late: Seq[FieldSpec]): Seq[FieldSpec] = {
    if (late.size <= 1) return late
    val byName = late.map(s => s.name -> s).toMap
    val computedByName = late.map(s => s.name -> computedPaths(s)).toMap
    val edges = late.flatMap { s =>
      sqlTexts(s).flatMap { sql =>
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts
        }
      }.distinct.collect {
        case parts if byName.contains(parts.head) && parts.head != s.name &&
            computedByName(parts.head).exists(cp =>
              cp.startsWith(parts.tail) || parts.tail.startsWith(cp)) =>
          parts.head
      }.distinct.map(_ -> s.name)
    }
    ForeignKeys.insertOrder(late.map(_.name), edges.distinct).map(byName)
  }

  /** Relative paths (child name chains) of every computed field inside a
    * spec; `Nil` means the spec (or element) is computed as a whole. Array
    * element structs are transparent — outside references project
    * `arr.field`, never `arr.element.field`. Fixed-map computed entries
    * are addressed with `['key']` (not dotted), so the whole map counts as
    * one computed unit. */
  private def computedPaths(s: FieldSpec): Seq[Seq[String]] = s match {
    case _: SqlField => Seq(Nil)
    case CastSpec(inner, _) => computedPaths(inner)
    case RoundWrapSpec(inner, _) => computedPaths(inner)
    case StructSpec(_, cs) => cs.flatMap(c => computedPaths(c).map(p => c.name +: p))
    case ArraySpec(_, e, _, _) => e match {
      case est: StructSpec => est.children.flatMap(c => computedPaths(c).map(p => c.name +: p))
      case other => computedPaths(other)
    }
    case fm: FixedMapSpec => if (fm.entries.exists(hasSqlDeep)) Seq(Nil) else Nil
    case _ => Nil
  }

  /** Does this spec (recursively) contain a computed [[SqlField]]? */
  /** Does this spec (through any wrappers) generate an ARRAY column?
    * Used by URL-serialization callers to pick the array rendering. */
  def isArrayShaped(s: FieldSpec): Boolean = s match {
    case _: ArraySpec => true
    case _: UniqueFromArrayField => true
    case EmptyArrayWrapSpec(inner, _) => isArrayShaped(inner)
    case EdgeNullWrapSpec(inner, _, _, _) => isArrayShaped(inner)
    case _ => false
  }

  private[graft] def hasSqlDeep(s: FieldSpec): Boolean = s match {
    case _: SqlField => true
    case StructSpec(_, cs) => cs.exists(hasSqlDeep)
    case ArraySpec(_, e, _, _) => hasSqlDeep(e)
    case FixedMapSpec(_, es, _, _) => es.exists(hasSqlDeep)
    case CastSpec(inner, _) => hasSqlDeep(inner)
    case RoundWrapSpec(inner, _) => hasSqlDeep(inner)
    case _ => false
  }

  /** Per-group size draw for `count.perField` (the reference's
    * PerFieldCount: a static count, a min/max range, or weighted
    * `"n->w"` choices, `PlanModels.scala:112-116` +
    * `DataGeneratorFactory.scala:75-100`). */
  final case class PerFieldCounts(
      count: Option[Long] = None,
      min: Option[Int] = None,
      max: Option[Int] = None,
      weighted: Seq[(Int, Double)] = Nil,
      /** Shape of the range draw: uniform (default) | normal | zipf |
        * power (the reference's cardinality distributions,
        * `api Constants.scala:363-366` — its own generators only log
        * zipf/power; here all four draw for real). */
      distribution: Option[String] = None) {
    require(count.isDefined || (min.isDefined && max.isDefined) || weighted.nonEmpty,
      "perField needs a count, a min+max range, or weighted choices")
    require(min.forall(_ >= 0) && max.forall(m => m >= min.getOrElse(0)),
      s"perField bad bounds [$min, $max]")
    require(weighted.forall(_._2 >= 0) && (weighted.isEmpty || weighted.map(_._2).sum > 0),
      "perField weighted choices need non-negative weights with a positive total")
    require(max.forall(m => m - min.getOrElse(0) <= 4096) || shape == "uniform",
      "non-uniform perField draws build a per-size branch — cap the range at 4096")

    private def shape: String = distribution.map(_.toLowerCase).getOrElse("uniform") match {
      case s @ ("uniform" | "normal" | "zipf" | "power") => s
      case other => throw new IllegalArgumentException(
        s"unknown perField distribution '$other' (uniform|normal|zipf|power)")
    }

    def isStatic: Boolean = count.isDefined
    /** Expected group size — drives planned-count bookkeeping (exact for
      * static/uniform/weighted; analytic for normal/zipf/power). */
    def mean: Double = count.map(_.toDouble).getOrElse {
      (min, max) match {
        case (Some(a), Some(b)) => shape match {
          case "uniform" | "normal" => (a + b) / 2.0
          case _ =>
            val w = rankWeights(a, b)
            (a to b).zip(w).map { case (k, p) => k * p }.sum
        }
        case _ => weighted.map(p => p._1 * p._2).sum / weighted.map(_._2).sum
      }
    }

    /** zipf: P(k) ∝ 1/rank; power: P(k) ∝ 1/rank² over [a, b], normalized. */
    private def rankWeights(a: Int, b: Int): Seq[Double] = {
      val s = if (shape == "power") 2.0 else 1.0
      val raw = (a to b).zipWithIndex.map { case (_, r) => 1.0 / math.pow(r + 1.0, s) }
      val tot = raw.sum
      raw.map(_ / tot)
    }

    /** Per-group drawn size as a keyed deterministic Column. */
    def draw(uniform: (String, Long, Column) => Column, seed: Long, idx: Column): Column =
      count.map(c => lit(c.toInt): Column).getOrElse {
        val u = uniform("__perfield_n", seed, idx)
        (min, max) match {
          case (Some(a), Some(b)) if a == b => lit(a)
          case (Some(a), Some(b)) => shape match {
            case "uniform" => lit(a) + (u * (b - a + 1)).cast("int")
            case "normal" =>
              // Box–Muller centered mid-range, σ = range/6 (≈99.7% inside),
              // clamped — "most parents near the middle". The reference's
              // numeric 'normal' is RANDN + min (σ=1 pinned at the
              // minimum); mid-centering is the documented divergence.
              val u2 = uniform("__perfield_n#bm", seed, idx)
              val z = sqrt(log(lit(1.0) - u) * -2.0) * cos(u2 * (2.0 * math.Pi))
              greatest(lit(a), least(lit(b),
                round(z * ((b - a) / 6.0) + (a + b) / 2.0, 0).cast("int")))
            case _ =>
              // inverse CDF over the bounded size domain — a codegen'd
              // branch per size, no HOF, no shuffle
              val cum = rankWeights(a, b).scanLeft(0.0)(_ + _).tail
              cum.init.zipWithIndex.foldRight(lit(b): Column) {
                case ((c, i), acc) => when(u < c, lit(a + i)).otherwise(acc)
              }
          }
          case _ =>
            OneOfField("__perfield_n", weighted.map(p => (p._1.toString, p._2)))
              .toColumn(u, idx, seed).cast("int")
        }
      }
  }

  /** Grouped generation (the reference's `count.perField` without an FK:
    * `DataGeneratorFactory.generateRecordsPerField`, 54-100): `records`
    * groups, each with its per-group fields generated ONCE and a drawn
    * number of member rows whose remaining fields vary per row. One narrow
    * explode — no shuffle, no window, exact group sizes at any scale
    * (the reference builds a per-row array of regenerated structs and
    * explodes it; same shape, same cost). */
  def generatePerField(
      spark: SparkSession,
      records: Long,
      specs: Seq[FieldSpec],
      groupFields: Seq[String],
      counts: PerFieldCounts,
      seed: Long = 42L,
      partitions: Int = 0,
      nullProb: Map[String, Double] = Map.empty,
      uniform: (String, Long, Column) => Column = xxhashUniform): DataFrame = {
    // group fields may be NESTED paths (`body.customer_id` — the
    // reference's kafka-relationships sample groups on a struct leaf):
    // the leaf spec generates ONCE per group under its dotted name, the
    // owning struct regenerates per member like any other field, and the
    // group value is spliced back over the leaf afterwards (withField) —
    // still one narrow explode + one projection, no shuffle
    val (dottedPaths, plainNames) = groupFields.partition(_.contains("."))
    val (groupSpecs, rest) = specs.partition(s => plainNames.contains(s.name))
    require(groupSpecs.map(_.name).toSet == plainNames.toSet,
      s"perField fields ${groupFields.mkString(",")} must all be declared fields")
    require(groupSpecs.forall(s => !hasSqlDeep(s)),
      "perField group fields must be plain (non-computed)")
    val nestedLeaves: Seq[(String, FieldSpec)] = dottedPaths.map { path =>
      val parts = path.split("\\.").toSeq
      val top = specs.find(_.name == parts.head).getOrElse(
        throw new IllegalArgumentException(
          s"perField path '$path': no declared field '${parts.head}'"))
      val leaf = parts.tail.foldLeft(top) { (s, n) =>
        s match {
          case StructSpec(_, children) => children.find(_.name == n).getOrElse(
            throw new IllegalArgumentException(
              s"perField path '$path': struct '${s.name}' has no child '$n'"))
          case other => throw new IllegalArgumentException(
            s"perField path '$path': '${other.name}' is not a struct")
        }
      }
      path -> leaf
    }
    val base0 = if (partitions > 0) spark.range(0, records, 1, partitions) else spark.range(records)
    val idx = col("id")
    // a computed (sql) group leaf — e.g. the reference's uuid+incremental,
    // which rewrites to sql over __index_inc — evaluates at GROUP level
    // with __index_inc bound to the group index; sibling references can't
    // exist yet at this stage and fail analysis loudly
    val base = if (nestedLeaves.exists(l => hasSqlDeep(l._2)))
      base0.withColumn("__index_inc", idx) else base0
    val groupCols = groupSpecs.map(s => s.toColumnWith(uniform, seed, idx).as(s.name)) ++
      // leaf draws key on the FULL path, independent of the same-named
      // member-row draw inside the regenerated struct
      nestedLeaves.map {
        case (path, SqlField(_, sql)) => expr(sql).as(path)
        case (path, leaf) =>
          leaf.toColumnWith((n, sd, i) => uniform(s"$path#$n", sd, i), seed, idx).as(path)
      }
    val fanned = base
      .select((idx.as("__pidx") +: groupCols) :+ counts.draw(uniform, seed, idx).as("__n"): _*)
      .withColumn("__cidx",
        explode(when(col("__n") >= 1, sequence(lit(1), col("__n"))).otherwise(array())))
    // member-row identity: distinct per (group, member), deterministic —
    // every keyed draw hashes it again, so contiguity is not required
    val memberIdx = xxhash64(col("__pidx"), col("__cidx"))
    // splice the group value back over the struct leaf by REWRITING the
    // leaf as a sql reference to the carried group column — the computed
    // stage's topo ordering then guarantees any OTHER sql field reading
    // the leaf (`key: sql(body.customer_id)`) sees the group value, not a
    // per-member regeneration (a post-hoc withField would run too late)
    def spliceLeaf(spec: FieldSpec, parts: Seq[String], path: String): FieldSpec =
      if (parts.length == 1) SqlField(parts.head, s"`$path`")
      else spec match {
        case StructSpec(n, children) =>
          StructSpec(n, children.map(c =>
            if (c.name == parts(1)) spliceLeaf(c, parts.tail, path) else c))
        case other => throw new IllegalArgumentException(
          s"perField path '$path': '${other.name}' is not a struct")
      }
    val restSpliced = dottedPaths.foldLeft(rest) { (specs0, path) =>
      val parts = path.split("\\.").toSeq
      specs0.map(s => if (s.name == parts.head) spliceLeaf(s, parts, path) else s)
    }
    val built = buildFrom(fanned, memberIdx, restSpliced, seed, nullProb, uniform,
      carry = groupSpecs.map(_.name) ++ dottedPaths)
    dottedPaths.foldLeft(built)((d, path) => d.drop(path))
  }

  /** FK-coupled per-parent fan-out (the reference's perField ON the FK
    * fields — its CardinalityCountAdjustmentProcessor turns that into a
    * synthetic cardinality, over-generates parent×max rows and block-maps
    * them back; here the child is generated FROM the parent frame
    * directly): every DISTINCT non-null parent key tuple emits a drawn
    * number of child rows that carry the tuple verbatim, remaining child
    * fields generated per row. Per-tuple (not per-parent-row) semantics is
    * deliberate: all draws key off the tuple hash, so duplicate parent
    * rows would emit bit-identical child blocks — one fan per distinct
    * tuple is the only deterministic, partitioning-invariant reading.
    * Exact per-tuple group sizes, exact referential integrity, no sampling
    * join; the dedup is the operator's one shuffle. */
  def fanOutChildren(
      parent: DataFrame,
      parentCols: Seq[String],
      childCols: Seq[String],
      childSpecs: Seq[FieldSpec],
      counts: PerFieldCounts,
      seed: Long,
      nullProb: Map[String, Double] = Map.empty,
      uniform: (String, Long, Column) => Column = xxhashUniform): DataFrame = {
    require(parentCols.nonEmpty && parentCols.size == childCols.size,
      s"fanOutChildren: parent fields $parentCols and child fields $childCols must pair up")
    require(childCols.forall(!_.contains(".")),
      s"fanOutChildren: nested child FK fields (${childCols.filter(_.contains("."))
        .mkString(",")}) aren't supported in a fan-out — the carried key IS the " +
        "group identity; declare the FK on a top-level field or use a sampling relationship")
    require(childSpecs.forall(s => !childCols.contains(s.name)),
      "fanOutChildren: childSpecs must exclude the FK fields (carried from the parent)")
    // a parent tuple with any null field can't parent (composite-key
    // semantics, same rule as assignKeys); duplicate parent key tuples
    // fan ONCE (the reference's perField count is per unique field-value
    // set — without the distinct, every duplicate parent row would emit a
    // bit-identical child block: same draws, same member identities).
    // The distinct is this operator's one shuffle, keyed on the same
    // columns the fan-out needs — AQE sizes it.
    val keyed = parent
      .select(parentCols.zip(childCols).map { case (p, c) => col(p).as(c) }: _*)
      .where(childCols.map(col(_).isNotNull).reduce(_ && _))
      .dropDuplicates(childCols)
    // parent identity = hash of the now-distinct key tuple (64-bit
    // collisions only correlate two parents' draws, never corrupt)
    val pidx = xxhash64(lit(seed) +: childCols.map(col): _*)
    val fanned = keyed
      .withColumn("__pidx", pidx)
      .withColumn("__n", counts.draw(uniform, seed, col("__pidx")))
      .withColumn("__cidx",
        explode(when(col("__n") >= 1, sequence(lit(1), col("__n"))).otherwise(array())))
    val memberIdx = xxhash64(col("__pidx"), col("__cidx"))
    buildFrom(fanned, memberIdx, childSpecs, seed, nullProb, uniform, carry = childCols)
  }

  /** Per-parent fan-out (the reference's per-field count,
    * DataGeneratorFactory.scala:75-100): emits between lo and hi child rows
    * per input row, deterministically.
    */
  def fanOut(df: DataFrame, idCol: String, lo: Int, hi: Int, seed: Long = 42L): DataFrame = {
    val u = (pmod(xxhash64(lit(seed), lit("fanout"), col(idCol)), lit(1L << 40)).cast("double")
      / lit((1L << 40).toDouble))
    val cnt = (lit(lo) + (u * (hi - lo + 1)).cast("int"))
    df.withColumn("__fan", explode(sequence(lit(1), cnt)))
      .withColumnRenamed("__fan", "child_idx")
  }
}
