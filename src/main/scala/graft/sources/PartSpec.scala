package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hidden partitioning (the Iceberg partition-transform idea, re-expressed
  * on the manifest-table layout): a table partitions by a TRANSFORM of a
  * data column — `days(ts)`, `bucket(16, k)`, `truncate(4, s)` — and the
  * derived value exists ONLY in the hive-style directory name. Data files
  * carry exactly the declared schema; queries filter on the SOURCE column
  * and partition pruning maps those predicates through the transform, so
  * users never learn (or mistype) the physical layout — the failure mode
  * hidden partitioning exists to kill is the analyst who forgets the
  * redundant `AND ts_day = ...` clause and full-scans 100 TB.
  *
  * Reference behavior this generalizes: the reference lake stores raw
  * event timestamps and its hourly ETL slices them by computed hour
  * (`/root/reference/src/get_weather_data.py` windows on `localtime_epoch`
  * arithmetic) — a days/hours transform makes that slicing a storage
  * property instead of per-query WHERE arithmetic.
  *
  * Contracts:
  *  - The derived column NEVER appears in the declared schema; writes add
  *    it on the fly ([[PartSpec.derive]]) and reads never surface it (the
  *    snapshot scan, `GraftScan`, takes partition values only from dir
  *    columns the declared schema names).
  *  - [[PartSpec.applyValue]] replays the transform on the DRIVER against
  *    a pruning hint value (Catalyst-internal convention: Long micros for
  *    timestamps, Int epoch days for dates, String for strings) and must
  *    agree bit-for-bit with [[PartSpec.derive]]'s Spark-side expression —
  *    PartSpecSpec pins the parity per transform.
  *  - Monotone transforms (identity, days/hours/months/years, truncate)
  *    also map RANGE hints; bucket maps equality/IN only.
  *
  * Partition-spec EVOLUTION keeps the old layout's directories untouched:
  * the current spec lives in the sidecar's `partCol` as its rendered form,
  * prior specs in the `graft.partSpecHistory` property, and pruning
  * resolves each directory's spec BY ITS COLUMN NAME — so one table can
  * hold `p=ASIA/...` dirs from generation 1 next to `ts_day=19723/...`
  * from generation 2 and a query on `ts` still prunes generation 2 while
  * scanning (only) all of generation 1. A full [[ManifestTable.compact]]
  * rewrites everything under the current spec and ends the mixed state.
  */
sealed trait PartSpec extends Serializable {
  /** The schema column the transform reads. */
  def source: String
  /** The directory-encoded column name (`ts_day`, `k_bucket`, …). */
  def physName: String
  /** Canonical text form, stored in the sidecar (`days(ts)`). */
  def render: String
  def isIdentity: Boolean = false
  /** Ranges on the source column map to ranges on the derived value. */
  def monotone: Boolean
  /** The Spark-side derived value for this spec over `src`. */
  def expr(src: Column, srcType: DataType): Column
  /** Driver-side replay of [[expr]] on one internal hint value; None =
    * value not transformable here → contributes no pruning constraint.
    */
  def applyValue(v: Any): Option[Any]

  /** Physical directory columns in nesting order — one for every simple
    * spec, the segment list for [[PartSpec.Multi]].
    */
  def physNames: Seq[String] = Seq(physName)

  /** Leaf specs: the parts of a [[PartSpec.Multi]], `Seq(this)` otherwise.
    * Pruning, evolution guards, and ALTER protection reason PER LEAF — a
    * composite layout is exactly its fields' layouts nested.
    */
  def leaves: Seq[PartSpec] = Seq(this)

  /** Does a manifest entry name (a hive-style dir path, possibly nested
    * `a=1/b=2`, possibly "" for an unpartitioned-era commit) belong to
    * THIS spec's layout? Mixed-layout reasoning keys on this: segment
    * count AND each segment's column name must match — the empty name
    * matches nothing (its rows are addressable by no dir restriction).
    */
  def matchesLayout(entry: String): Boolean = {
    val segs = entry.split("/")
    segs.length == physNames.length &&
      segs.iterator.zip(physNames.iterator).forall { case (s, n) => s.startsWith(n + "=") }
  }

  /** Ensure the physical partition column exists on `df` (no-op for
    * identity, where the source column IS the physical column).
    */
  def derive(df: DataFrame): DataFrame =
    if (isIdentity) df
    else df.withColumn(physName, expr(df(source), df.schema(source).dataType))
}

object PartSpec {

  private val Micros = 1000000L
  private val DayMicros = 86400L * Micros
  private val HourMicros = 3600L * Micros

  /** Exact integer floor division on a long column: `(a - pmod(a, d)) / d`
    * — the numerator is an exact multiple of `d` and stays under 2^53 for
    * any realistic timestamp, so the double division is exact; plain
    * `floor(a / d)` would route the RAW micros through a double ratio.
    */
  private[sources] def floorDivCol(a: Column, d: Long): Column =
    ((a - pmod(a, lit(d))) / lit(d)).cast(LongType)

  /** A hint value's instant in epoch micros. Accepts BOTH value
    * conventions that reach pruning: Catalyst-internal (Long micros for
    * timestamps, Int epoch days for dates — the [[ManifestTable.readAuto]]
    * hint path) and external/V1 (java.sql.Timestamp/Date, java.time
    * Instant/LocalDate — the SQL scan's `sources.Filter` path).
    */
  private def timeLikeMicros(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue()) // TimestampType internal micros
    case i: java.lang.Integer => Some(i.toLong * DayMicros) // DateType internal epoch days
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, Micros), i.getNano / 1000L))
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * DayMicros)
    case d: java.time.LocalDate => Some(d.toEpochDay * DayMicros)
    case _ => None
  }

  /** Timestamp(_NTZ) sources fold to epoch micros, DATE sources to epoch
    * days × day-micros — both TZ-free integer arithmetic, so days/hours
    * boundaries are UTC by construction (never session-timezone-bent;
    * `year()`/`month()` of a timestamp would be).
    */
  private def asMicros(src: Column, srcType: DataType): Column = srcType match {
    case DateType => unix_date(src).cast(LongType) * DayMicros
    case TimestampType => unix_micros(src)
    case TimestampNTZType =>
      // NTZ has no instant; treat the wall-clock as UTC (the engine's µs
      // NTZ dump convention): to_utc_timestamp interprets the wall-clock
      // in the given zone — UTC makes the fold session-TZ-independent
      unix_micros(to_utc_timestamp(src, "UTC"))
    case other => throw new IllegalArgumentException(
      s"time transform needs a timestamp/date source, got $other")
  }

  final case class Identity(source: String) extends PartSpec {
    override def isIdentity: Boolean = true
    def physName: String = source
    def render: String = source
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column = src
    def applyValue(v: Any): Option[Any] = Some(v)
  }

  /** UTC days since epoch (floor division, so pre-epoch values land in the
    * correct earlier day).
    */
  final case class Days(source: String) extends PartSpec {
    def physName: String = s"${source}_day"
    def render: String = s"days($source)"
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column =
      PartSpec.floorDivCol(asMicros(src, srcType), DayMicros)
    def applyValue(v: Any): Option[Any] =
      timeLikeMicros(v).map(m => Math.floorDiv(m, DayMicros))
  }

  final case class Hours(source: String) extends PartSpec {
    def physName: String = s"${source}_hour"
    def render: String = s"hours($source)"
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column =
      PartSpec.floorDivCol(asMicros(src, srcType), HourMicros)
    def applyValue(v: Any): Option[Any] =
      timeLikeMicros(v).map(m => Math.floorDiv(m, HourMicros))
  }

  private def monthsSinceEpoch(epochDay: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(epochDay)
    (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
  }

  /** Months since 1970-01 of the UTC calendar day. Derivation routes
    * through the epoch day (TZ-free) and takes year/month OF A DATE —
    * date-typed year()/month() are timezone-independent in Spark.
    */
  final case class Months(source: String) extends PartSpec {
    def physName: String = s"${source}_month"
    def render: String = s"months($source)"
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column = {
      val epochDay = floor(asMicros(src, srcType).cast(DoubleType) / DayMicros.toDouble)
        .cast(IntegerType)
      val d = date_add(to_date(lit("1970-01-01")), epochDay)
      ((year(d) - 1970).cast(LongType) * 12 + (month(d) - 1).cast(LongType))
    }
    def applyValue(v: Any): Option[Any] =
      timeLikeMicros(v).map(m => monthsSinceEpoch(Math.floorDiv(m, DayMicros)))
  }

  final case class Years(source: String) extends PartSpec {
    def physName: String = s"${source}_year"
    def render: String = s"years($source)"
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column = {
      val epochDay = floor(asMicros(src, srcType).cast(DoubleType) / DayMicros.toDouble)
        .cast(IntegerType)
      (year(date_add(to_date(lit("1970-01-01")), epochDay)) - 1970).cast(LongType)
    }
    def applyValue(v: Any): Option[Any] =
      timeLikeMicros(v).map(m =>
        (java.time.LocalDate.ofEpochDay(Math.floorDiv(m, DayMicros)).getYear - 1970).toLong)
  }

  /** `pmod(xxhash64(col), n)` — Spark's own codegen'd 64-bit hash, replayed
    * driver-side through the same Catalyst expression so a pruning probe
    * can never diverge from the written directory (XxHash64 hashes int and
    * long DIFFERENTLY, so the probe builds its literal at the source
    * column's exact type).
    */
  final case class Bucket(n: Int, source: String, sourceType: DataType)
      extends PartSpec {
    require(n >= 1, s"bucket($n, $source): bucket count must be >= 1")
    def physName: String = s"${source}_bucket"
    def render: String = s"bucket($n,$source)"
    def monotone: Boolean = false
    def expr(src: Column, srcType: DataType): Column = pmod(xxhash64(src), lit(n.toLong))
    def applyValue(v: Any): Option[Any] = {
      val lit0 = v match {
        case s: String if sourceType == StringType =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType)
        case x =>
          try org.apache.spark.sql.catalyst.expressions.Literal.create(x, sourceType)
          catch { case _: Exception => return None }
      }
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(lit0), 42L)
        .eval(null).asInstanceOf[Long]
      Some(Math.floorMod(h, n.toLong))
    }
  }

  /** Width-`w` truncation: strings keep their first `w` CODEPOINTS
    * (matching Spark `substring` character semantics), integrals floor to
    * the nearest multiple of `w` — both order-preserving, so ranges map.
    */
  final case class Truncate(w: Int, source: String, sourceType: DataType)
      extends PartSpec {
    require(w >= 1, s"truncate($w, $source): width must be >= 1")
    def physName: String = s"${source}_trunc"
    def render: String = s"truncate($w,$source)"
    def monotone: Boolean = true
    def expr(src: Column, srcType: DataType): Column = srcType match {
      case StringType => substring(src, 1, w)
      case ByteType | ShortType | IntegerType | LongType =>
        (src.cast(LongType) - pmod(src.cast(LongType), lit(w.toLong)))
      case other => throw new IllegalArgumentException(
        s"truncate supports string/integral sources, got $other")
    }
    def applyValue(v: Any): Option[Any] = v match {
      case s: String =>
        // codepoint-aware take — String.take counts UTF-16 units and would
        // split surrogate pairs Spark's substring keeps whole
        val end = s.offsetByCodePoints(0, math.min(w, s.codePointCount(0, s.length)))
        Some(s.substring(0, end))
      case i: Int => Some(Math.floorDiv(i.toLong, w.toLong) * w)
      case l: Long => Some(Math.floorDiv(l, w.toLong) * w)
      case i: java.lang.Integer => Some(Math.floorDiv(i.toLong, w.toLong) * w)
      case l: java.lang.Long => Some(Math.floorDiv(l.longValue(), w.toLong) * w)
      case _ => None
    }
  }

  /** A COMPOSITE spec — `PARTITIONED BY (days(ts), bucket(8, user_id))`,
    * the canonical production layout (time dimension for retention and
    * range pruning × hash dimension for write fan-out and key-equality
    * pruning). Each part derives one hive dir SEGMENT, nested in
    * declaration order: `ts_day=19723/user_id_bucket=3/…`. Pruning treats
    * the segments INDEPENDENTLY (each under its own part's transform —
    * see [[leaves]]), so a predicate on either source dimension prunes,
    * and a predicate on both intersects. Rendered as the comma list of
    * the parts' renders in the sidecar's `partCol`.
    */
  final case class Multi(parts: Seq[PartSpec]) extends PartSpec {
    require(parts.length >= 2,
      s"composite partition spec needs >= 2 transforms, got ${parts.length}")
    require(parts.forall(p => !p.isInstanceOf[Multi]),
      "composite partition specs do not nest")
    require(parts.map(_.physName).distinct.length == parts.length,
      s"composite partition spec repeats a directory column: " +
        parts.map(_.physName).mkString(", "))
    override def leaves: Seq[PartSpec] = parts
    /** Leading segment's source/phys — prefix reasoning only; per-field
      * logic must go through [[leaves]]/[[physNames]].
      */
    def source: String = parts.head.source
    def physName: String = parts.head.physName
    override def physNames: Seq[String] = parts.map(_.physName)
    def render: String = parts.map(_.render).mkString(",")
    def monotone: Boolean = false
    def expr(src: Column, srcType: DataType): Column =
      throw new UnsupportedOperationException(
        "composite specs derive via derive(df), not a single expression")
    def applyValue(v: Any): Option[Any] = None
    override def derive(df: DataFrame): DataFrame =
      parts.foldLeft(df)((d, p) => p.derive(d))
  }

  private val Fn = """^\s*([a-zA-Z_]+)\s*\(\s*(.*?)\s*\)\s*$""".r

  /** Split a rendered spec on TOP-LEVEL commas only — `days(ts),bucket(8,k)`
    * has one top-level comma; the one inside `bucket(…)` stays put.
    */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.result().trim; sb.clear()
      case c => sb += c
    }
    out += sb.result().trim
    out.result().filter(_.nonEmpty)
  }

  /** Parse a rendered spec against the declared schema: a top-level comma
    * list parses as a [[Multi]], one segment as itself. Plain column name
    * = identity (exactly the pre-hidden-partitioning sidecar form, so
    * every existing table parses unchanged).
    */
  def parse(render: String, schema: StructType): PartSpec =
    splitTop(render) match {
      case Seq(one) => parseOne(one, schema)
      case many => Multi(many.map(parseOne(_, schema)))
    }

  private def parseOne(render: String, schema: StructType): PartSpec = {
    def typeOf(c: String): DataType = {
      require(schema.fieldNames.contains(c),
        s"partition transform source column $c is not in the table schema")
      schema(c).dataType
    }
    render match {
      case Fn(name, args) =>
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        (name.toLowerCase(java.util.Locale.ROOT), parts) match {
          case ("identity", Seq(c)) => typeOf(c); Identity(c)
          case ("days", Seq(c)) => typeOf(c); Days(c)
          case ("hours", Seq(c)) => typeOf(c); Hours(c)
          case ("months", Seq(c)) => typeOf(c); Months(c)
          case ("years", Seq(c)) => typeOf(c); Years(c)
          case ("bucket", Seq(a, b)) =>
            val (n, c) = if (a.forall(_.isDigit)) (a.toInt, b) else (b.toInt, a)
            Bucket(n, c, typeOf(c))
          case ("truncate", Seq(a, b)) =>
            val (n, c) = if (a.forall(_.isDigit)) (a.toInt, b) else (b.toInt, a)
            Truncate(n, c, typeOf(c))
          case _ => throw new IllegalArgumentException(
            s"unsupported partition transform '$render' — supported: identity(c), " +
              "days(c), hours(c), months(c), years(c), bucket(n,c), truncate(w,c)")
        }
      case c =>
        typeOf(c); Identity(c)
    }
  }

  /** Validate a freshly parsed CURRENT spec against the schema: each
    * leaf's derived column name must not shadow a data column (directory
    * names would be ambiguous with an identity layout on that column),
    * and the source type must fit the transform. [[Multi]]'s constructor
    * already refuses repeated directory columns among its own parts.
    */
  def validate(spec: PartSpec, schema: StructType): PartSpec = {
    spec.leaves.foreach(validateOne(_, schema))
    spec
  }

  private def validateOne(spec: PartSpec, schema: StructType): PartSpec = {
    if (!spec.isIdentity)
      require(!schema.fieldNames.contains(spec.physName),
        s"derived partition column ${spec.physName} collides with a table column")
    spec match {
      case Days(c) => checkTime(c, schema)
      case Hours(c) =>
        require(schema(c).dataType != DateType,
          s"hours($c): a DATE has no sub-day resolution — use days($c)")
        checkTime(c, schema)
      case Months(c) => checkTime(c, schema)
      case Years(c) => checkTime(c, schema)
      case Truncate(w, c, dt) =>
        require(dt == StringType || dt == ByteType || dt == ShortType ||
          dt == IntegerType || dt == LongType,
          s"truncate($w,$c) supports string/integral sources, got $dt")
      case _ => ()
    }
    spec
  }

  private def checkTime(c: String, schema: StructType): Unit =
    schema(c).dataType match {
      case DateType | TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"time transform on $c needs a timestamp/date column, got $other")
    }
}

/** Sidecar-backed spec resolution for a table root: the CURRENT spec from
  * the sidecar's `partCol` (rendered form) plus prior specs from the
  * `graft.partSpecHistory` property — views of the cached sidecar
  * ([[GraftDdl.sidecar]]), so the per-read cost is one `getFileStatus`.
  * Roots without a sidecar (path-first manifest tables) have no specs and
  * keep the legacy identity behavior everywhere.
  */
object PartSpecs {
  val HistoryProp = "graft.partSpecHistory"

  /** The first data version whose dirs the specs describe, set by a full
    * rewrite that retires the history (compact/zorder) or a REPLACE TABLE:
    * older dirs, still reached by time travel, `restore` and branches, may
    * carry a retired layout whose dir column names a later spec reuses.
    */
  val LayoutFromProp = "graft.partSpecFrom"

  def parseHistory(props: Map[String, String]): Seq[String] =
    props.get(HistoryProp).toSeq.flatMap { json =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      (0 until node.size()).map(i => node.get(i).asText())
    }

  def renderHistory(renders: Seq[String]): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    renders.foreach(arr.add)
    m.writeValueAsString(arr)
  }
}
