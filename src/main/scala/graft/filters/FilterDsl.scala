package graft.filters

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's metadata filter DSL, re-expressed as Catalyst predicates.
  *
  * Semantics (reference: src/dataio/validators.py:227 `build_allowed_ids`,
  * src/selectivity.py:4 `mask`):
  *   - a filter is `{column: {op: value}, ...}`; all predicates AND together;
  *   - ops: eq ne in between ge le gt lt like lat_between lon_between;
  *   - ranges are inclusive; `like` is case-insensitive substring;
  *   - rows with NULL in a filtered column FAIL the predicate (incl. `ne`);
  *   - a filter value that cannot cast to the column type excludes all rows;
  *   - geo: if either lat/lon range op is present, BOTH must be present;
  *   - unknown column or operator is a hard error.
  *
  * Compiling to a single `Column` keeps the whole filter inside Catalyst, so
  * it is pushed into the parquet scan (PushedFilters) and pruned — the
  * 100 TB-scale behaviour the reference's pandas masks cannot give.
  */
object FilterDsl {

  sealed trait Op
  final case class Eq(v: Any)                 extends Op
  final case class Ne(v: Any)                 extends Op
  final case class In(vs: Seq[Any])           extends Op
  final case class Between(lo: Any, hi: Any)  extends Op
  final case class Ge(v: Any)                 extends Op
  final case class Le(v: Any)                 extends Op
  final case class Gt(v: Any)                 extends Op
  final case class Lt(v: Any)                 extends Op
  final case class Like(substr: String)       extends Op
  final case class LatBetween(lo: Any, hi: Any) extends Op
  final case class LonBetween(lo: Any, hi: Any) extends Op

  final case class Spec(preds: Seq[(String, Seq[Op])]) {
    def isEmpty: Boolean = preds.isEmpty
  }

  final class FilterSpecError(msg: String) extends IllegalArgumentException(msg)

  private val geoOps = Set("lat_between", "lon_between")

  /** Parse the reference's JSON filter format, e.g.
    * `{"state":{"eq":"FL"},"stars":{"ge":4.5},"cat":{"in":[2,3]}}`.
    * Malformed JSON or unknown operators are hard errors, as in the
    * reference (validators.py:19 `parse_filters`, :118 schema validation).
    */
  def parseJson(json: String): Spec = {
    if (json == null || json.trim.isEmpty || json.trim == "{}") return Spec(Nil)
    val parsed =
      try JsonMethods.parse(json)
      catch { case e: Exception => throw new FilterSpecError(s"Malformed filter JSON: ${e.getMessage}") }
    val obj = parsed match {
      case JObject(fields) => fields
      case _ => throw new FilterSpecError("Filters must be a JSON object")
    }
    val preds = obj.map {
      // top-level geo shorthand: {"lat_between": [lo, hi]}
      case (f, JArray(vs)) if geoOps(f) =>
        if (vs.size != 2) throw new FilterSpecError(s"Geo range for $f must be [lo, hi]")
        val Seq(lo, hi) = vs.map(jvalueToScala)
        if (f == "lat_between") ("latitude", Seq(LatBetween(lo, hi): Op))
        else ("longitude", Seq(LonBetween(lo, hi): Op))
      case (field, JObject(ops)) =>
        field -> ops.map { case (op, v) => parseOp(field, op, v) }
      case (field, _) =>
        throw new FilterSpecError(s"Filter for field '$field' must be an operator->value mapping")
    }
    validate(Spec(preds))
  }

  private def parseOp(field: String, op: String, v: JValue): Op = op match {
    case "eq" => Eq(jvalueToScala(v))
    case "ne" => Ne(jvalueToScala(v))
    case "ge" => Ge(jvalueToScala(v))
    case "le" => Le(jvalueToScala(v))
    case "gt" => Gt(jvalueToScala(v))
    case "lt" => Lt(jvalueToScala(v))
    case "in" => v match {
      case JArray(vs) => In(vs.map(jvalueToScala))
      case _ => throw new FilterSpecError(s"'in' expects a list for '$field'")
    }
    case "between" => v match {
      case JArray(List(lo, hi)) => Between(jvalueToScala(lo), jvalueToScala(hi))
      case _ => throw new FilterSpecError(s"'between' expects [lo, hi] for '$field'")
    }
    case "like" => Like(jvalueToScala(v).toString)
    case "lat_between" => v match {
      case JArray(List(lo, hi)) => LatBetween(jvalueToScala(lo), jvalueToScala(hi))
      case _ => throw new FilterSpecError(s"Geo range for lat_between must be [lo, hi]")
    }
    case "lon_between" => v match {
      case JArray(List(lo, hi)) => LonBetween(jvalueToScala(lo), jvalueToScala(hi))
      case _ => throw new FilterSpecError(s"Geo range for lon_between must be [lo, hi]")
    }
    case other => throw new FilterSpecError(s"Unknown operator for field '$field': $other")
  }

  private def jvalueToScala(v: JValue): Any = v match {
    case JString(s)  => s
    case JInt(i)     => i.toLong
    case JLong(l)    => l
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JBool(b)    => b
    case JNull       => null
    case other       => throw new FilterSpecError(s"Unsupported filter value: $other")
  }

  /** Structural validation (reference validators.py:118
    * `validate_filters_schema`): geo ops must come in lat+lon pairs, and —
    * matching the reference's hard error (validators.py:153-156) — may only
    * target the latitude / longitude columns. */
  def validate(spec: Spec): Spec = {
    val ops = spec.preds.flatMap(_._2)
    val hasLat = ops.exists(_.isInstanceOf[LatBetween])
    val hasLon = ops.exists(_.isInstanceOf[LonBetween])
    if (hasLat != hasLon)
      throw new FilterSpecError("Geo filters require both 'lat_between' and 'lon_between'")
    spec.preds.foreach { case (field, fieldOps) =>
      fieldOps.foreach {
        case _: LatBetween if field != "latitude" =>
          throw new FilterSpecError(s"'lat_between' must target the 'latitude' column, not '$field'")
        case _: LonBetween if field != "longitude" =>
          throw new FilterSpecError(s"'lon_between' must target the 'longitude' column, not '$field'")
        case _ =>
      }
    }
    spec
  }

  /** Compile a spec to one Catalyst predicate for `df`. Unknown columns are a
    * hard error. NULL-fails is native SQL three-valued logic: a NULL
    * comparison yields NULL which `filter` drops — matching the reference's
    * `mask & s.notna()`. `ne` on a NULL row also fails, same as the reference.
    */
  def compile(df: DataFrame, spec: Spec): Column = {
    validate(spec)
    val schema = df.schema
    val known = schema.fieldNames.toSet
    val preds = spec.preds.flatMap { case (field, ops) =>
      if (!known.contains(field)) throw new FilterSpecError(s"Unknown field in filters: '$field'")
      val dt = schema(field).dataType
      ops.map(opToColumn(col(field), dt, _))
    }
    if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
  }

  /** Apply: filter df down to allowed rows (reference `build_allowed_ids`). */
  def apply(df: DataFrame, spec: Spec): DataFrame = df.where(compile(df, spec))

  def applyJson(df: DataFrame, json: String): DataFrame = apply(df, parseJson(json))

  /** Fraction of rows passing (reference selectivity.py:37
    * `compute_selectivity`). Single aggregation pass, no collect. */
  def selectivity(df: DataFrame, spec: Spec): DataFrame = {
    val pred = compile(df, spec)
    df.agg(
      coalesce(round(avg(when(pred, 1.0).otherwise(0.0)), 6), lit(0.0))
        .as("selectivity"))
  }

  private def opToColumn(c: Column, dt: DataType, op: Op): Column = op match {
    case Eq(v)  => castLit(v, dt).map(c === _).getOrElse(lit(false))
    case Ne(v)  => castLit(v, dt).map(c =!= _).getOrElse(lit(false))
    case Ge(v)  => castLit(v, dt).map(c >= _).getOrElse(lit(false))
    case Le(v)  => castLit(v, dt).map(c <= _).getOrElse(lit(false))
    case Gt(v)  => castLit(v, dt).map(c > _).getOrElse(lit(false))
    case Lt(v)  => castLit(v, dt).map(c < _).getOrElse(lit(false))
    case Between(lo, hi) =>
      (castLit(lo, dt), castLit(hi, dt)) match {
        case (Some(l), Some(h)) => c >= l && c <= h
        case _ => lit(false)
      }
    case LatBetween(lo, hi) => opToColumn(c, dt, Between(lo, hi))
    case LonBetween(lo, hi) => opToColumn(c, dt, Between(lo, hi))
    case In(vs) =>
      // cast-failure drops the uncastable value (reference
      // validators.py:208 `_cast_iterable_to_dtype`); all-fail => false
      val ok = vs.flatMap(castLit(_, dt))
      if (ok.isEmpty) lit(false) else c.isin(ok: _*)
    case Like(substr) =>
      // case-insensitive substring; array columns are pipe-joined first,
      // matching the reference (validators.py:213-221) — a plain string
      // cast would render Spark arrays as "[a, b]" and match differently
      val s = dt match {
        case _: ArrayType => array_join(c.cast(ArrayType(StringType)), "|")
        case _            => c.cast(StringType)
      }
      instr(lower(s), substr.toLowerCase) > 0
  }

  /** Cast a filter literal to the column dtype; None = cast failure, which
    * per the reference excludes all rows (validators.py:166). */
  private[filters] def castLit(v: Any, dt: DataType): Option[Column] = {
    if (v == null) return None
    try {
      dt match {
        case _: StringType => Some(lit(v.toString))
        case LongType | IntegerType | ShortType | ByteType =>
          castIntegral(v, dt).map(lit(_).cast(dt))
        case DoubleType | FloatType | _: DecimalType =>
          val d: Double = v match {
            case n: Double => n
            case n: Long => n.toDouble
            case n: Int => n.toDouble
            case b: Boolean => if (b) 1.0 else 0.0
            case s: String => s.trim.toDouble
            case other => other.toString.trim.toDouble
          }
          Some(lit(d).cast(dt))
        case BooleanType =>
          v match {
            case b: Boolean => Some(lit(b))
            case n: Long => Some(lit(n != 0L))
            case n: Int => Some(lit(n != 0))
            case s: String =>
              s.trim.toLowerCase match {
                case "true" | "t" | "1" => Some(lit(true))
                case "false" | "f" | "0" => Some(lit(false))
                case _ => None
              }
            case _ => None
          }
        case _: TimestampType | _: DateType =>
          Some(lit(v.toString).cast(dt))
        case _ => Some(lit(v.toString).cast(dt))
      }
    } catch { case _: Exception => None }
  }

  /** A filter value for an integral column type `dt` — the ONE cast both
    * [[castLit]] and the RAM tier's label predicate
    * (RamCorpus.labelPredicate) compare against. Doubles truncate (Python
    * int() semantics — eq 1.5 matches 1), booleans map to 0/1, strings
    * must parse as an integer ("1.5" fails). A non-finite value or one
    * outside `dt`'s range is a cast failure (None), never an overflowing
    * literal cast: under ANSI mode `CAST(4294967299L AS INT)` throws while
    * the query is optimized. */
  def castIntegral(v: Any, dt: DataType): Option[Long] = {
    val l: Long = try {
      v match {
        case null => return None
        case n: Long => n
        case n: Int => n.toLong
        case n: Double =>
          // beyond Long's range toLong would saturate, not fail
          if (n.isNaN || n.isInfinite || n >= Long.MaxValue.toDouble ||
              n < Long.MinValue.toDouble) return None
          n.toLong
        case b: Boolean => if (b) 1L else 0L
        case s: String => s.trim.toLong
        case other => other.toString.trim.toLong
      }
    } catch { case _: NumberFormatException => return None }
    val (lo, hi) = dt match {
      case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    if (l < lo || l > hi) None else Some(l)
  }
}
