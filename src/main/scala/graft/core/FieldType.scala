package graft.core

import org.apache.spark.sql.types._

/** The engine's field-type algebra: 10 scalars × {scalar, ARRAY_, MAP_}
  * = 30 types, bijective with a constrained subset of Spark types.
  * Mirrors the reference's type system
  * (rakam-spi/src/main/java/org/rakam/collection/FieldType.java:6-73):
  * arrays are element-typed, maps are always MAP&lt;STRING, T&gt;, no
  * nested structs, every field nullable.
  */
sealed trait FieldType {
  def spark: DataType
  def name: String
}

object FieldType {
  sealed trait Scalar extends FieldType

  case object STRING extends Scalar { val spark = StringType; val name = "STRING" }
  case object INTEGER extends Scalar { val spark = IntegerType; val name = "INTEGER" }
  case object LONG extends Scalar { val spark = LongType; val name = "LONG" }
  case object DOUBLE extends Scalar { val spark = DoubleType; val name = "DOUBLE" }
  /** Carried as double through Avro in the reference (AvroUtil.java:208-210). */
  case object DECIMAL extends Scalar { val spark = DecimalType(38, 9); val name = "DECIMAL" }
  case object BOOLEAN extends Scalar { val spark = BooleanType; val name = "BOOLEAN" }
  /** Epoch days (DateTimeUtils.java:59-61). */
  case object DATE extends Scalar { val spark = DateType; val name = "DATE" }
  /** Millis-of-day; Spark has no TIME type so IntegerType carries it
    * (JsonEventDeserializer.java:587-593). */
  case object TIME extends Scalar { val spark = IntegerType; val name = "TIME" }
  /** Epoch millis UTC (JsonEventDeserializer.java:594-607). */
  case object TIMESTAMP extends Scalar { val spark = TimestampType; val name = "TIMESTAMP" }
  case object BINARY extends Scalar { val spark = BinaryType; val name = "BINARY" }

  final case class ARRAY(elem: Scalar) extends FieldType {
    val spark: DataType = ArrayType(elem.spark, containsNull = true)
    val name = s"ARRAY_${elem.name}"
  }
  final case class MAP(value: Scalar) extends FieldType {
    val spark: DataType = MapType(StringType, value.spark, valueContainsNull = true)
    val name = s"MAP_${value.name}"
  }

  val scalars: Seq[Scalar] = Seq(
    STRING, INTEGER, LONG, DOUBLE, DECIMAL, BOOLEAN, DATE, TIME, TIMESTAMP, BINARY)

  val all: Seq[FieldType] =
    scalars ++ scalars.map(ARRAY.apply) ++ scalars.map(MAP.apply)

  def fromName(s: String): FieldType = s match {
    case n if n.startsWith("ARRAY_") =>
      ARRAY(scalars.find(_.name == n.stripPrefix("ARRAY_"))
        .getOrElse(throw new IllegalArgumentException(s"bad type $s")))
    case n if n.startsWith("MAP_") =>
      MAP(scalars.find(_.name == n.stripPrefix("MAP_"))
        .getOrElse(throw new IllegalArgumentException(s"bad type $s")))
    case n => scalars.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"bad type $s"))
  }

  /** Inverse of [[FieldType.spark]]. TIME (int millis-of-day) and
    * INTEGER share IntegerType, so the inverse maps to INTEGER — the
    * registry stores FieldType names to preserve the distinction. */
  def fromSpark(dt: DataType): FieldType = dt match {
    case StringType => STRING
    case IntegerType => INTEGER
    case LongType => LONG
    case DoubleType => DOUBLE
    case _: DecimalType => DECIMAL
    case BooleanType => BOOLEAN
    case DateType => DATE
    case TimestampType | TimestampNTZType => TIMESTAMP
    case BinaryType => BINARY
    case ArrayType(e, _) => ARRAY(fromSpark(e).asInstanceOf[Scalar])
    case MapType(StringType, v, _) => MAP(fromSpark(v).asInstanceOf[Scalar])
    case other => throw new IllegalArgumentException(s"unsupported Spark type $other")
  }
}

/** Field-name and collection-name normalization (F1) — mirrors
  * ValidationUtil.java:97-139 + JsonEventDeserializer.java:370-374:
  * strip quotes and leading whitespace, fold diacritics (NFD), convert
  * camelCase to snake_case, lowercase, reject names left with
  * non-ASCII, cap collection names at 100 chars.
  */
object Names {
  private val MaxCollectionName = 100

  /** The member-ordinal column a grouped ingest tags each row with
    * (which request of the group it came from). [[normalizeField]]
    * lowercases every field, so no event field can carry this name. */
  val MemberColumn = "_Member"

  def normalizeField(raw: String): Either[String, String] = {
    val stripped = raw.replace("\"", "").replace("'", "").trim
    if (stripped.isEmpty) return Left(s"empty field name: '$raw'")
    val folded = java.text.Normalizer.normalize(stripped, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")
    val snake = new StringBuilder
    folded.foreach { c =>
      if (c.isUpper) {
        if (snake.nonEmpty && snake.last != '_') snake += '_'
        snake += c.toLower
      } else snake += c
    }
    val out = snake.result()
    if (out.exists(c => c > 127)) Left(s"non-ASCII field name: '$raw'")
    else Right(out)
  }

  def normalizeCollection(raw: String): Either[String, String] = {
    val lowered = raw.trim.toLowerCase
    if (lowered.isEmpty) Left("empty collection name")
    else if (lowered.length > MaxCollectionName)
      Left(s"collection name longer than $MaxCollectionName: '$raw'")
    else Right(lowered)
  }

  /** Human-readable label (F18, SchemaField.java:58-65). */
  def pretty(name: String): String =
    name.split('_').filter(_.nonEmpty).map(_.capitalize).mkString(" ")
}
