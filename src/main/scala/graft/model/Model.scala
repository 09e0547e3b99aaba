package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Canonical input is an Iceberg-style table of interleaved text+media
  * documents:
  *
  * {{{
  *   doc_id: string,
  *   spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>
  * }}}
  *
  * Spans of `kind = "point"` carry a quantized point payload in `text`
  * (comma-separated scaled integers, LAS-style `v = i * scale + offset`
  * dequantization — see reference io/las/LasReader.cpp:651-720 for the
  * semantics being preserved; the reference stores x/y/z as int32 grid
  * steps and dequantizes on read). All other kinds are opaque and must
  * survive every pipeline untouched (span-sequence equality invariant).
  *
  * The exploded ("point frame") representation is a flat DataFrame:
  *
  * {{{
  *   doc_id: string, span_idx: int, x: double, y: double, z: double,
  *   intensity: int, gps_time: double
  * }}}
  *
  * plus any derived dimension columns operators add (ferry, attribute,
  * classification, tiles...). Dimension typing follows the reference's
  * closed registry (include/pdal/Dimension.hpp:104-120): only fixed-width
  * numeric types; unsigned types widen to the next signed Spark type.
  */
object Model {

  /** Quantization scale for point payloads (v = i * SCALE). 0.5 is exactly
    * representable in binary so Spark and any SQL oracle agree bit-for-bit. */
  val Scale: Double = 0.5

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)
  ))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false)
  ))

  /** Type-widening lattice, per PointLayout::resolveType
    * (reference src/PointLayout.cpp:257): same base type -> wider wins;
    * signed+unsigned -> next wider signed; anything+float -> double big
    * enough to hold both. In Spark terms we only need a total order. */
  private val widenOrder: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  def widen(a: DataType, b: DataType): DataType = {
    if (a == b) a
    else {
      val ia = widenOrder.indexOf(a); val ib = widenOrder.indexOf(b)
      require(ia >= 0 && ib >= 0, s"cannot widen $a with $b")
      // int64 + float32 must widen to double (float can't hold long)
      if ((a == LongType && b == FloatType) || (a == FloatType && b == LongType)) DoubleType
      else widenOrder(math.max(ia, ib))
    }
  }

  /** Merge two point schemas with widening, like registerDim on an
    * already-registered dimension (reference src/PointLayout.cpp:74-108). */
  def mergeSchemas(a: StructType, b: StructType): StructType = {
    val byName = a.fields.map(f => f.name -> f).toMap
    val extra = b.fields.filterNot(f => byName.contains(f.name))
    val widened = a.fields.map { f =>
      b.fields.find(_.name == f.name) match {
        case Some(g) if g.dataType != f.dataType =>
          f.copy(dataType = widen(f.dataType, g.dataType))
        case _ => f
      }
    }
    StructType(widened ++ extra)
  }

  /** Checked cast, preserving the reference's lossy-conversion guard:
    * getFieldAs<T> throws when the (double-roundtripped) value is out of
    * range of the target type (reference include/pdal/PointView.hpp:372-440,
    * convertAndSet :442). Spark's plain cast silently wraps; here we
    * raise_error instead. Integer targets round half away from zero like
    * Utils::sround (PointView.hpp:418-421). */
  def checkedCast(c: Column, to: DataType): Column = {
    val (lo, hi) = to match {
      case ByteType => (Byte.MinValue.toDouble, Byte.MaxValue.toDouble)
      case ShortType => (Short.MinValue.toDouble, Short.MaxValue.toDouble)
      case IntegerType => (Int.MinValue.toDouble, Int.MaxValue.toDouble)
      case LongType => (Long.MinValue.toDouble, Long.MaxValue.toDouble)
      case FloatType => (Float.MinValue.toDouble, Float.MaxValue.toDouble)
      case DoubleType => (Double.MinValue, Double.MaxValue)
      case other => throw new IllegalArgumentException(s"checkedCast to $other")
    }
    val rounded = to match {
      case ByteType | ShortType | IntegerType | LongType =>
        // round half away from zero (Utils::sround)
        when(c >= 0, floor(c + lit(0.5))).otherwise(ceil(c - lit(0.5)))
      case _ => c
    }
    when(rounded.isNull, lit(null).cast(to))
      .when(rounded < lit(lo) || rounded > lit(hi),
        raise_error(concat(lit(s"value out of range for $to: "), c.cast(StringType))).cast(to))
      .otherwise(rounded.cast(to))
  }

  // -------------------------------------------------------------------
  // Span <-> point codec
  // -------------------------------------------------------------------

  /** Decode point spans of a doc table into the flat point frame.
    * Pure narrow transformation: posexplode + string split — no shuffle.
    * Non-point spans are dropped here; use [[implode]] to reassemble
    * documents with non-point spans preserved. */
  def explodePoints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sp = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "point")
    // single-pass payload parse (see ParsePointPayload) instead of
    // split() + per-field casts — the scan-side hot loop
    val p = ColumnBridge.column(graft.functions.ParsePointPayload(
      ColumnBridge.expression(col("s.text"))))
    sp.select(col("doc_id"), col("s.offset").as("span_idx"), p.as("p"))
      .select(
        col("doc_id"), col("span_idx"),
        (col("p.xi") * lit(Scale)).as("x"),
        (col("p.yi") * lit(Scale)).as("y"),
        (col("p.zi") * lit(Scale)).as("z"),
        col("p.intensity").cast(IntegerType).as("intensity"),
        col("p.pid").cast(DoubleType).as("gps_time"))
  }

  /** Re-encode a (possibly filtered / transformed) point frame back into a
    * point-span column set (doc_id, kind, text, media_ref, offset). */
  def encodePointSpans(points: DataFrame): DataFrame = {
    points.select(
      col("doc_id"),
      lit("point").as("kind"),
      concat_ws(",",
        (col("x") / Scale).cast(LongType).cast(StringType),
        (col("y") / Scale).cast(LongType).cast(StringType),
        (col("z") / Scale).cast(LongType).cast(StringType),
        col("intensity").cast(StringType),
        col("gps_time").cast(LongType).cast(StringType)
      ).as("text"),
      lit("").as("media_ref"),
      col("span_idx").as("offset")
    )
  }

  /** Reassemble documents: surviving point spans (re-encoded from the
    * point frame) + all original non-point spans, in original offset
    * order. This is what makes the span-sequence invariant testable:
    * explode -> identity -> implode must reproduce `docs` exactly.
    *
    * One shuffle (groupBy doc_id); sort_array orders by the leading
    * struct field = offset, restoring intra-document order without a
    * window function. */
  def implode(docs: DataFrame, points: DataFrame): DataFrame = {
    val nonPoint = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") =!= "point")
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))
    val pointSpans = encodePointSpans(points)
    nonPoint.unionByName(pointSpans)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .select(col("doc_id"),
        transform(col("ordered"), s => struct(
          s.getField("kind").as("kind"),
          s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))).as("spans"))
  }

  /** Canonical string rendering of a document's span sequence — the
    * comparator used by the span-sequence-equality gate (robust to
    * struct-hashing differences between engines). */
  def spanSignature(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      concat_ws("|", transform(col("spans"), s => concat_ws(":",
        s.getField("kind"),
        coalesce(s.getField("text"), lit("")),
        coalesce(s.getField("media_ref"), lit("")),
        s.getField("offset").cast(StringType)))).as("sig"))
  }
}
