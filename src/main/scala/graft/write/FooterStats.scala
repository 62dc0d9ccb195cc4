package graft.write

import graft.core._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import scala.jdk.CollectionConverters._

/**
 * Per-file column statistics from the parquet footer, keyed by Iceberg field
 * id — powers manifest lower/upper bounds, value/null counts, column sizes
 * and split offsets (reference: iceberg_insert.cpp:199-235 +
 * src/storage/statistics/iceberg_data_file_stats.cpp; bounds are stored in
 * Iceberg single-value binary form via [[graft.core.SingleValue]]).
 *
 * String and binary bounds are truncated per the table's
 * `write.metadata.metrics.*` properties (default `truncate(16)`): the lower
 * bound is a UTF-8-safe prefix (a prefix is always <= the value); the upper
 * bound is the prefix with its last code point incremented so it stays >=
 * every value (reference iceberg_value.cpp TruncateString /
 * TruncateAndIncrementString; iceberg_metrics.cpp). This matters at scale:
 * exact min/max of an LLM-corpus `text` column are whole document prefixes,
 * and manifest Avro IO is driver-side planning cost.
 */
case class FileStats(
    recordCount: Long,
    columnSizes: Map[Int, Long],
    valueCounts: Map[Int, Long],
    nullCounts: Map[Int, Long],
    lowerBounds: Map[Int, Array[Byte]],
    upperBounds: Map[Int, Array[Byte]],
    splitOffsets: Seq[Long])

/** Per-column metrics collection level from `write.metadata.metrics.default`
  * and `write.metadata.metrics.column.<name>` table properties (reference
  * iceberg_metrics.cpp; Iceberg write-properties doc). */
sealed trait MetricsMode extends Serializable
object MetricsMode {
  case object NoMetrics extends MetricsMode
  case object Counts extends MetricsMode
  case class Truncate(length: Int) extends MetricsMode
  case object Full extends MetricsMode
}

case class MetricsSpec(default: MetricsMode, perColumn: Map[String, MetricsMode])
    extends Serializable {
  def forColumn(dottedName: String): MetricsMode =
    perColumn.getOrElse(dottedName, default)
}

object MetricsSpec {
  /** Iceberg's default when unset: truncate(16). */
  val Default: MetricsSpec = MetricsSpec(MetricsMode.Truncate(16), Map.empty)

  /** Parse one mode value: none | counts | truncate(<n>) | full. Error
    * messages mirror reference iceberg_metrics.cpp:29-34. */
  def parseMode(raw: String): MetricsMode = {
    val v = raw.trim.toLowerCase
    v match {
      case "none"   => MetricsMode.NoMetrics
      case "counts" => MetricsMode.Counts
      case "full"   => MetricsMode.Full
      case _ if v.startsWith("truncate(") && v.endsWith(")") =>
        val inner = v.substring(9, v.length - 1)
        val len = try inner.trim.toLong catch { case _: NumberFormatException => -1L }
        if (len > 0 && len <= Int.MaxValue) MetricsMode.Truncate(len.toInt)
        else throw new IllegalArgumentException(
          s"Invalid metrics mode '$raw': truncate length must be a positive integer")
      case _ =>
        throw new IllegalArgumentException(
          s"Invalid write.metadata.metrics mode '$raw': expected 'none', 'counts', 'truncate(<n>)', or 'full'")
    }
  }

  def fromProperties(props: Map[String, String]): MetricsSpec = {
    val default = props.get("write.metadata.metrics.default")
      .map(parseMode).getOrElse(MetricsMode.Truncate(16))
    val prefix = "write.metadata.metrics.column."
    val perCol = props.collect {
      case (k, v) if k.startsWith(prefix) => k.substring(prefix.length) -> parseMode(v)
    }
    MetricsSpec(default, perCol)
  }
}

object FooterStats {

  /** UTF-8-safe prefix of at most `maxBytes` bytes — always a valid LOWER
    * bound (prefix <= value). Reference iceberg_value.cpp
    * TruncateToCodePointBoundary/TruncateString. */
  def truncateLowerString(s: String, maxBytes: Int): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length <= maxBytes) return s
    var len = maxBytes
    while (len > 0 && (bytes(len) & 0xC0) == 0x80) len -= 1
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Truncate to a code-point boundary, then increment the last code point
    * (skipping the surrogate range) so the result stays a valid UPPER bound;
    * carry to the previous code point at U+10FFFF; None when no representable
    * bound exists (bounds are optional per spec). Reference iceberg_value.cpp
    * TruncateAndIncrementString. */
  def truncateUpperString(s: String, maxBytes: Int): Option[String] = {
    if (s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= maxBytes)
      return Some(s)
    val prefix = truncateLowerString(s, maxBytes)
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      var cp = cps(i) + 1
      if (cp >= 0xD800 && cp <= 0xDFFF) cp = 0xE000
      if (cp <= 0x10FFFF)
        return Some(new String(cps, 0, i).concat(new String(Character.toChars(cp))))
      i -= 1
    }
    None
  }

  /** Binary lower bound: plain prefix (Iceberg spec truncate(L); the
    * reference leaves blobs untruncated — a prefix is strictly tighter IO
    * with identical pruning semantics). */
  def truncateLowerBinary(b: Array[Byte], maxBytes: Int): Array[Byte] =
    if (b.length <= maxBytes) b else b.take(maxBytes)

  /** Binary upper bound: prefix with the last non-0xFF byte incremented,
    * trailing 0xFF bytes dropped; None when the prefix is all 0xFF. */
  def truncateUpperBinary(b: Array[Byte], maxBytes: Int): Option[Array[Byte]] = {
    if (b.length <= maxBytes) return Some(b)
    val p = b.take(maxBytes)
    var i = p.length - 1
    while (i >= 0) {
      if ((p(i) & 0xFF) != 0xFF) {
        val out = p.take(i + 1)
        out(i) = ((out(i) & 0xFF) + 1).toByte
        return Some(out)
      }
      i -= 1
    }
    None
  }

  def read(path: Path, conf: Configuration, schema: IcebergSchema,
      metrics: MetricsSpec = MetricsSpec.Default): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val recordCount = blocks.map(_.getRowCount).sum
      val splitOffsets = blocks.map(_.getStartingPos).sorted

      // Dotted parquet column path -> the Iceberg leaf field, through
      // structs (reference test_write_upper_lower_bounds_nested_types:
      // nested leaves carry bounds too). List/map element paths have
      // parquet-specific marker segments ("list","element","key_value") —
      // their per-element stats are not representable as single-value
      // bounds, so they stay unmapped (conservative).
      val nameToField: Map[String, IcebergTypes.NestedField] = {
        val b = Map.newBuilder[String, IcebergTypes.NestedField]
        def walk(t: IcebergType, prefix: Seq[String]): Unit = t match {
          case IcebergTypes.StructT(fs) => fs.foreach { f =>
            b += ((prefix :+ f.name).mkString(".") -> f)
            walk(f.fieldType, prefix :+ f.name)
          }
          case _ =>
        }
        walk(schema.struct, Nil)
        b.result()
      }
      val idToMode: Map[Int, MetricsMode] =
        nameToField.map { case (dotted, f) => f.id -> metrics.forColumn(dotted) }
      val sizes = collection.mutable.Map.empty[Int, Long]
      val values = collection.mutable.Map.empty[Int, Long]
      val nulls = collection.mutable.Map.empty[Int, Long]
      val mins = collection.mutable.Map.empty[Int, Any]
      val maxs = collection.mutable.Map.empty[Int, Any]
      var statsValid = Set.empty[Int]
      var statsSeen = Set.empty[Int]

      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val pathParts: Seq[String] = chunk.getPath.asScala.toSeq
        nameToField.get(pathParts.mkString(".")).foreach { f =>
            val id = f.id
            val mode = idToMode.getOrElse(id, metrics.default)
            // `none` drops counts AND bounds for the column (reference
            // iceberg_data_file_stats.cpp: NONE -> continue before counts).
            if (mode != MetricsMode.NoMetrics) {
              sizes.updateWith(id)(v => Some(v.getOrElse(0L) + chunk.getTotalSize))
              values.updateWith(id)(v => Some(v.getOrElse(0L) + chunk.getValueCount))
              val st = chunk.getStatistics
              statsSeen += id
              if (st != null && !st.isEmpty) {
                nulls.updateWith(id)(v => Some(v.getOrElse(0L) + st.getNumNulls))
                val wantBounds = mode match {
                  case MetricsMode.Truncate(_) | MetricsMode.Full => true
                  case _ => false
                }
                if (wantBounds && st.hasNonNullValue) {
                  statsValid += id
                  val (mn, mx) = convert(st.genericGetMin.asInstanceOf[AnyRef],
                    st.genericGetMax.asInstanceOf[AnyRef], chunk, f.fieldType)
                  if (mn != null && mx != null) {
                    mins.updateWith(id)(v => Some(v.map(o => if (SingleValue.compare(mn, o) < 0) mn else o).getOrElse(mn)))
                    maxs.updateWith(id)(v => Some(v.map(o => if (SingleValue.compare(mx, o) > 0) mx else o).getOrElse(mx)))
                  }
                }
              }
            }
          }
      }

      // Truncate string/binary bounds AFTER the cross-row-group min/max is
      // final (truncating per-chunk then comparing would be wrong: an
      // incremented upper bound could lose to a longer exact one).
      def boundValue(id: Int, v: Any, upper: Boolean): Option[Any] =
        idToMode.getOrElse(id, metrics.default) match {
          case MetricsMode.Truncate(len) => v match {
            case s: String =>
              if (upper) truncateUpperString(s, len) else Some(truncateLowerString(s, len))
            case b: Array[Byte] =>
              if (upper) truncateUpperBinary(b, len) else Some(truncateLowerBinary(b, len))
            case other => Some(other)
          }
          case _ => Some(v)
        }

      def ser(m: collection.Map[Int, Any], upper: Boolean): Map[Int, Array[Byte]] =
        m.flatMap { case (id, v) =>
          val f = schema.idToField(id)
          // Fixed-width types keep exact bounds (fixed(L) is not truncatable).
          val tv = f.fieldType match {
            case IcebergTypes.StringT | IcebergTypes.BinaryT => boundValue(id, v, upper)
            case _ => Some(v)
          }
          tv.flatMap(x => Option(SingleValue.serialize(x, f.fieldType))).map(id -> _)
        }.toMap

      FileStats(recordCount, sizes.toMap, values.toMap, nulls.toMap,
        ser(mins.filter { case (id, _) => statsValid(id) }, upper = false),
        ser(maxs.filter { case (id, _) => statsValid(id) }, upper = true),
        splitOffsets)
    } finally reader.close()
  }

  /** Convert parquet statistics values to internal form for the Iceberg
    * type. Returns (null,null) when the physical form isn't convertible. */
  private def convert(mn: AnyRef, mx: AnyRef, chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      t: IcebergType): (Any, Any) = {
    import IcebergTypes._
    def both(f: AnyRef => Any): (Any, Any) =
      try (f(mn), f(mx)) catch { case _: Exception => (null, null) }
    t match {
      case BooleanT => both(_.asInstanceOf[java.lang.Boolean].booleanValue())
      case IntT | DateT => both(_.asInstanceOf[Number].intValue())
      case LongT | TimeT | TimestampT | TimestampTzT => both(_.asInstanceOf[Number].longValue())
      case FloatT => both(_.asInstanceOf[Number].floatValue())
      case DoubleT => both(_.asInstanceOf[Number].doubleValue())
      case StringT => both(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case UuidT => both(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case BinaryT | FixedT(_) => both(v => v.asInstanceOf[Binary].getBytes)
      case DecimalT(_, scale) => both {
        case n: java.lang.Integer => new java.math.BigDecimal(java.math.BigInteger.valueOf(n.longValue()), scale)
        case n: java.lang.Long => new java.math.BigDecimal(java.math.BigInteger.valueOf(n.longValue()), scale)
        case b: Binary => new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), scale)
        case _ => null
      }
      case _ => (null, null)
    }
  }
}
