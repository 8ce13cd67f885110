package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, DateFormatClass, Expression, Literal, Pmod, Subtract,
  Substring, XxHash64}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hidden partitioning — Iceberg-style partition TRANSFORMS (M36).
  *
  * A partition-spec entry is either a plain column name (identity, the
  * only form rounds 1-6 supported and the only form the reference's own
  * DDL uses — `create_demo_table.py:117` `PARTITIONED BY (category)`) or
  * a transform over a source column:
  *
  *   - `bucket(N, col)`   — `pmod(xxhash64(col), N)`; point-lookup
  *                          pruning min/max stats can never provide
  *   - `truncate(W, col)` — integral floor-to-W / string W-prefix
  *   - `years(ts)` `months(ts)` `days(ts)` `hours(ts)` — calendar
  *                          buckets of a timestamp/date, rendered in UTC
  *                          (Iceberg defines time transforms in UTC;
  *                          pinning it makes write, prune and DML-render
  *                          agree regardless of session time zone)
  *
  * The POINT of hidden partitioning at 100 TB: the user predicates on the
  * SOURCE column (`WHERE ts >= X`, `WHERE id = 42`) and the engine prunes
  * transformed partitions — nobody has to know (or get wrong) the layout.
  *
  * One catalyst expression tree ([[PartitionTransform.valueExpr]]) is the
  * single source of truth for the transform's rendered value, evaluated
  * in all three places that MUST agree byte-for-byte or pruning silently
  * drops matching files:
  *   - [[LakeTable]]'s write path (as a Column over the source column),
  *   - the executor-side DML writers (interpreted eval over a
  *     [[BoundReference]] per row — [[PartitionRender]]),
  *   - prune time (eval over a [[Literal]] of the predicate's value).
  *
  * Range pruning: every transform except `bucket` is monotone
  * non-decreasing in its source value, so `src >= v` admits exactly the
  * partitions with `T(pv) >= T(v)` (strict bounds widen to >= / <= at
  * partition granularity). Fixed-width digit renderings (time transforms)
  * and string prefixes compare lexicographically; integral truncation
  * compares numerically after a parse-back.
  */
sealed trait PartitionTransform extends Serializable {
  /** Canonical spec string as stored in table metadata. */
  def spec: String
  /** The source (data) column the transform reads. */
  def sourceCol: String
  /** Source column type, resolved against the table schema. */
  def sourceType: DataType
  /** Partition-value key recorded in file metadata / hive paths.
    * Identity keeps the bare column name (backward compatible with every
    * pre-M36 table); transforms suffix it so a spec may carry both
    * `days(ts)` and `bucket(8, ts)` without colliding. */
  def fieldName: String

  /** STRING-typed catalyst expression rendering the partition value from
    * `child` (the source column / a literal of its type). `null` result
    * = hive default partition. Identity overrides the whole pipeline
    * instead (native values, the pre-M36 rendering, kept bit-compatible
    * with existing tables). */
  private[lake] def valueExpr(child: Expression): Expression

  /** Write-side partition-value column. */
  def writeColumn(src: Column): Column =
    ColumnBridge.column(valueExpr(ColumnBridge.expression(src)))

  /** Driver-side transform of a predicate literal (either value domain —
    * v1-external java types or catalyst-internal) to the rendered
    * partition value. None = can't render ⇒ the constraint doesn't
    * prune through this transform. */
  def eqValue(v: Any): Option[String] =
    PartitionTransform.toInternal(v, sourceType).flatMap { iv =>
      val r = valueExpr(Literal.create(iv, sourceType)).eval(null)
      Option(r).map(_.toString)
    }

  /** Monotone-range admit test: for `src <op> v`, the rendered partition
    * values that may contain matching rows. None = this transform can't
    * prune ranges (bucket) or the value can't render. `op` ∈
    * {">", ">=", "<", "<="}.
    *
    * The hive-default token ALWAYS survives (here and in
    * [[PartitionPruning]]'s equality path): Spark's hive-path writer
    * maps BOTH null and empty-string partition values to
    * `__HIVE_DEFAULT_PARTITION__`, so the token is ambiguous — treating
    * it as "null, prune it" would silently drop rows whose rendered
    * value is `""` (review r7: an identity/truncate string partition of
    * an empty name). Ambiguous ⇒ conservative keep; the predicate above
    * the scan refilters. */
  def rangeAllowed(op: String, v: Any): Option[String => Boolean] = {
    val cmp = rangeCompare
    if (cmp == null) None
    else eqValue(v).map { bound =>
      val lower = op == ">" || op == ">="
      pv =>
        pv == PartitionRender.HiveDefault ||
          (if (lower) cmp(pv, bound) >= 0 else cmp(pv, bound) <= 0)
    }
  }

  /** Partition-value comparator for range pruning; null = unordered
    * under this transform (bucket). */
  protected def rangeCompare: (String, String) => Int
}

object PartitionTransform {
  import PartitionTransforms._

  /** Spec grammar: `name`, `bucket(N, col)`, `truncate(W, col)`,
    * `years|months|days|hours(col)`. */
  private val Fn = """(?i)^(bucket|truncate|years|months|days|hours)\s*\((.*)\)$""".r

  /** Int param with a friendly DDL error for any malformed/overflowing
    * value ("99999999999" passed an isDigit check but blew up toInt —
    * review r7). */
  private def intParam(s: String, spec: String): Int =
    try s.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"numeric transform argument out of range in: $spec")
    }

  /** Parse + resolve one spec entry against the table schema. Rejects
    * unknown columns, type-incompatible transforms and (via [[parseAll]])
    * field-name collisions — catching them at DDL time, not as silently
    * unprunable partitions. */
  def parse(spec: String, schema: StructType): PartitionTransform = {
    def field(c: String): StructField =
      schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in schema"))
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    spec.trim match {
      case Fn(name, args) =>
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        name.toLowerCase match {
          case "bucket" =>
            require(parts.length == 2, s"bucket(N, col) expected, got: $spec")
            val (n, c) = (intParam(parts.head, spec), parts(1))
            require(n > 0, s"bucket count must be positive: $spec")
            val f = field(c)
            require(integral(f.dataType) || f.dataType == StringType ||
              f.dataType == DateType || f.dataType == TimestampType ||
              f.dataType == TimestampNTZType,
              s"bucket over ${f.dataType.simpleString} not supported: $spec")
            Bucket(n, c, f.dataType)
          case "truncate" =>
            require(parts.length == 2, s"truncate(W, col) expected, got: $spec")
            val (w, c) = (intParam(parts.head, spec), parts(1))
            require(w > 0, s"truncate width must be positive: $spec")
            val f = field(c)
            require(integral(f.dataType) || f.dataType == StringType,
              s"truncate over ${f.dataType.simpleString} not supported: $spec")
            Truncate(w, c, f.dataType)
          case t @ ("years" | "months" | "days" | "hours") =>
            require(parts.length == 1, s"$t(col) expected, got: $spec")
            val f = field(parts.head)
            require(f.dataType == TimestampType ||
              f.dataType == TimestampNTZType ||
              (f.dataType == DateType && t != "hours"),
              s"$t over ${f.dataType.simpleString} not supported: $spec")
            Time(t, parts.head, f.dataType)
        }
      case c =>
        Identity(c, field(c).dataType)
    }
  }

  /** Parse a full spec. With `strict` (DDL time: create /
    * setPartitionSpec) it also enforces unique field names that don't
    * shadow data columns (a transform field named like a column would
    * make pruning ambiguous). Read paths parse NON-strict: a weird
    * committed state (e.g. a column added after the spec) must degrade
    * to conservative pruning, never brick every read of the table
    * (review r7 — even `dropColumn`, the recovery path, evaluates the
    * spec). */
  def parseAll(specs: Seq[String], schema: StructType,
      strict: Boolean = true): Seq[PartitionTransform] = {
    val ts = specs.map(parse(_, schema))
    if (strict) {
      val names = ts.map(_.fieldName)
      require(names.distinct.size == names.size,
        s"duplicate partition field names in spec: ${specs.mkString(", ")}")
      ts.filterNot(_.isInstanceOf[Identity]).foreach { t =>
        require(!schema.fieldNames.contains(t.fieldName),
          s"partition field ${t.fieldName} collides with a data column")
      }
    }
    ts
  }

  /** Predicate-literal normalization to catalyst-internal form, total
    * over BOTH value domains a constraint can arrive in (v1-external
    * java types from the bridged ScanBuilder, catalyst-internal from
    * NativeReadRule's conjuncts) — the same dual-domain contract
    * [[PartitionFilterValues]] documents. None ⇒ no prune. */
  private[lake] def toInternal(v: Any, dt: DataType): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (StringType, s: UTF8String) => Some(s)
    case (ByteType, n: java.lang.Byte) => Some(n.byteValue)
    case (ShortType, n: java.lang.Short) => Some(n.shortValue)
    case (IntegerType, n: java.lang.Integer) => Some(n.intValue)
    case (LongType, n: java.lang.Long) => Some(n.longValue)
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (DateType, d: java.sql.Date) => Some(DateTimeUtils.fromJavaDate(d))
    case (DateType, d: java.time.LocalDate) => Some(DateTimeUtils.localDateToDays(d))
    case (DateType, n: java.lang.Integer) => Some(n.intValue) // internal epoch-day
    case (TimestampType, t: java.sql.Timestamp) => Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, i: java.time.Instant) => Some(DateTimeUtils.instantToMicros(i))
    case (TimestampType, n: java.lang.Long) => Some(n.longValue) // internal micros
    // NTZ: wall-clock micros; a java.sql.Timestamp constraint contributes
    // its local wall time (the reading Spark gives an NTZ comparison)
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(DateTimeUtils.localDateTimeToMicros(t))
    case (TimestampNTZType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.localDateTimeToMicros(t.toLocalDateTime))
    case (TimestampNTZType, n: java.lang.Long) => Some(n.longValue)
    case _ => None
  }
}

private[lake] object PartitionTransforms {
  private def numericCmp(a: String, b: String): Int =
    java.lang.Long.compare(a.toLong, b.toLong)
  /** UTF8 BINARY order, not Java's UTF-16 compareTo: Spark orders
    * strings by UTF8String bytes, and the two disagree on supplementary
    * characters (surrogates sort above U+E000..U+FFFF in UTF-16 but
    * their UTF-8 bytes sort above everything in the BMP). Pruning with
    * the engine's own order keeps admission aligned with row semantics
    * (review r7). */
  private def stringCmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Identity keeps the ENTIRE pre-M36 pipeline: native-typed write
    * column (hive-path rendering), [[PartitionFilterValues]] literal
    * rendering, [[PartitionRender]]'s typed per-row renderers. valueExpr
    * is never consulted. Range compare: integral numerically; string and
    * ISO-rendered dates lexicographically; booleans and everything
    * unrendered are unordered. */
  final case class Identity(sourceCol: String, sourceType: DataType)
      extends PartitionTransform {
    def spec: String = sourceCol
    def fieldName: String = sourceCol
    private[lake] def valueExpr(child: Expression): Expression = child
    override def writeColumn(src: Column): Column = src
    override def eqValue(v: Any): Option[String] =
      PartitionTransform.toInternal(v, sourceType)
        .flatMap(PartitionFilterValues.internal(_, sourceType))
    protected def rangeCompare: (String, String) => Int = sourceType match {
      case ByteType | ShortType | IntegerType | LongType => numericCmp
      case StringType | DateType => stringCmp
      case _ => null
    }
  }

  /** `pmod(xxhash64(col), n)` — seed 42, identical to
    * `functions.xxhash64`. A null source hashes to the seed (not null),
    * so null rows land in a regular bucket on every path alike. Only
    * point predicates prune (a hash destroys order). */
  final case class Bucket(n: Int, sourceCol: String, sourceType: DataType)
      extends PartitionTransform {
    def spec: String = s"bucket($n,$sourceCol)"
    // the parameter is part of the field identity: spec evolution
    // bucket(8,c) → bucket(16,c) must NOT reuse one key, or old files'
    // mod-8 values get pruned against mod-16 bounds and matching rows
    // silently vanish (review r7) — distinct keys make old files
    // "no recorded value for id_bucket_16" ⇒ conservatively kept
    def fieldName: String = s"${sourceCol}_bucket_$n"
    private[lake] def valueExpr(child: Expression): Expression =
      Cast(Pmod(XxHash64(Seq(child), 42L), Literal(n.toLong)), StringType)
    protected def rangeCompare: (String, String) => Int = null
  }

  /** Integral floor-to-width (`v - pmod(v, w)`, floor for negatives) or
    * string W-prefix. Both monotone: integral compares numerically after
    * parse-back, prefixes lexicographically. */
  final case class Truncate(w: Int, sourceCol: String, sourceType: DataType)
      extends PartitionTransform {
    def spec: String = s"truncate($w,$sourceCol)"
    // parameter in the key for the same evolution-safety reason as Bucket
    def fieldName: String = s"${sourceCol}_trunc_$w"
    private[lake] def valueExpr(child: Expression): Expression = sourceType match {
      case StringType => Substring(child, Literal(1), Literal(w))
      case _ =>
        // floor in LONG space: byte/short/int can't wrap there (review
        // r7: `(byte) v - pmod` wrapped at MinValue, breaking the
        // monotonicity range pruning relies on, and a width cast to a
        // narrow type wrapped to 0/negative). The one residual edge —
        // LongType values within w of Long.MinValue, where the subtract
        // itself would underflow — renders null ⇒ hive default ⇒ never
        // pruned (conservative, not wrong).
        val long = Cast(child, LongType)
        val guarded =
          if (sourceType == LongType)
            org.apache.spark.sql.catalyst.expressions.If(
              org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
                long, Literal(Long.MinValue + w)),
              Literal.create(null, LongType),
              long)
          else long
        Cast(Subtract(guarded, Pmod(guarded, Literal(w.toLong))), StringType)
    }
    protected def rangeCompare: (String, String) => Int = sourceType match {
      case StringType => stringCmp
      case _ => numericCmp
    }
  }

  /** Calendar buckets rendered as fixed-width UTC date strings —
    * "2026" / "2026-08" / "2026-08-13" / "2026-08-13-07" — which makes
    * lexicographic order THE calendar order, so range pruning is a
    * string compare. DateType sources cast to timestamp at UTC first
    * (a date has no zone; UTC keeps the rendered day identical). */
  final case class Time(unit: String, sourceCol: String, sourceType: DataType)
      extends PartitionTransform {
    def spec: String = s"$unit($sourceCol)"
    def fieldName: String = s"${sourceCol}_${unit.stripSuffix("s")}"
    private val pattern = unit match {
      case "years" => "yyyy"
      case "months" => "yyyy-MM"
      case "days" => "yyyy-MM-dd"
      case "hours" => "yyyy-MM-dd-HH"
    }
    private[lake] def valueExpr(child: Expression): Expression = {
      // dates and NTZ wall-clock timestamps cast to instant-typed at UTC
      // (no zone shift — the rendered calendar fields are the stored
      // ones); instant timestamps format at UTC directly
      val ts =
        if (sourceType == TimestampType) child
        else Cast(child, TimestampType, Some("UTC"))
      DateFormatClass(ts, Literal(pattern), Some("UTC"))
    }
    protected def rangeCompare: (String, String) => Int = stringCmp
  }
}

/** Shared metadata-level partition pruning over a parsed transform spec —
  * ONE pure function of (filters, partition values) used by the bridged
  * ScanBuilder, NativeReadRule's splice AND the CoW group scope, so every
  * path prunes identically (the "same pure function" contract
  * [[LakeV2Table.partitionPredicate]] documented, now transform-aware).
  *
  * A constraint on source column c applies through EVERY transform over
  * c (`days(ts)` and `bucket(8, ts)` both narrow a `ts = v` lookup). A
  * file with no recorded value for a constrained field always survives
  * (pre-evolution files, unrenderable writes — conservative, rows are
  * re-filtered above the scan). A value that fails to render through a
  * transform simply doesn't prune through it; an IN-list prunes only if
  * EVERY element renders (pruning on a renderable subset would drop
  * files matching the others). Range predicates prune through monotone
  * transforms only — new in M36; identity partitions gain range pruning
  * from the same mechanism. */
private[lake] object PartitionPruning {
  import org.apache.spark.sql.sources._

  /** Build the admit predicate from v1 source filters. Filter values may
    * be in either value domain (external from pushdown, internal from
    * NativeReadRule's conjunct translation) — [[PartitionTransform
    * .toInternal]] normalizes both. */
  def predicate(transforms: Seq[PartitionTransform],
      filters: Seq[Filter]): Map[String, String] => Boolean = {
    if (transforms.isEmpty) return _ => true
    val byCol = transforms.groupBy(_.sourceCol)
    // fieldName -> admit(pv); a file must satisfy every constraint whose
    // field it records
    // the hive-default token always survives every constraint shape: it
    // stands for null OR empty-string renderings (ambiguous — see
    // [[PartitionTransform.rangeAllowed]]), so pruning on it loses rows
    val HD = PartitionRender.HiveDefault
    val constraints: Seq[(String, String => Boolean)] = filters.flatMap {
      case EqualTo(c, v) => byCol.getOrElse(c, Nil).flatMap { t =>
        t.eqValue(v).map(s =>
          t.fieldName -> ((pv: String) => pv == HD || pv == s))
      }
      case In(c, vs) => byCol.getOrElse(c, Nil).flatMap { t =>
        val rendered = vs.toSeq.map(t.eqValue)
        if (rendered.exists(_.isEmpty)) None
        else {
          val allowed = rendered.flatten.toSet + HD
          Some(t.fieldName -> ((pv: String) => allowed.contains(pv)))
        }
      }
      case GreaterThan(c, v) => range(byCol, c, ">", v)
      case GreaterThanOrEqual(c, v) => range(byCol, c, ">=", v)
      case LessThan(c, v) => range(byCol, c, "<", v)
      case LessThanOrEqual(c, v) => range(byCol, c, "<=", v)
      case _ => Nil
    }
    if (constraints.isEmpty) _ => true
    else pv => constraints.forall { case (f, admit) => pv.get(f).forall(admit) }
  }

  private def range(byCol: Map[String, Seq[PartitionTransform]], c: String,
      op: String, v: Any): Seq[(String, String => Boolean)] =
    byCol.getOrElse(c, Nil).flatMap { t =>
      t.rangeAllowed(op, v).map(t.fieldName -> _)
    }
}
