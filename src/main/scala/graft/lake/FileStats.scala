package graft.lake

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{date_from_unix_date, timestamp_micros}
import org.apache.spark.sql.types._

/** One data file's row count and, per top-level column it has stats for,
  * the null count and the (min, max) bounds, None when every value is
  * null. A [[SnapshotLake]] commit reads them from each new file's
  * parquet footer into the file's manifest entry, so they describe
  * exactly the versions that list the file; [[ZoneMapIndex]] prunes range
  * scans and answers min/max/count from them. Bounds are text: numbers
  * and booleans as Java prints them, dates as epoch days, timestamps as
  * epoch microseconds, strings as themselves.
  */
private[graft] final case class FileStats(rows: Long, cols: Map[String, ColStats])
private[graft] final case class ColStats(nulls: Long, bounds: Option[(String, String)])

private[graft] object FileStats {

  /** Longest string bound kept, in UTF-8 bytes: long text stays out. */
  private val MaxStringBytes = 64

  /** Stats of the parquet file `in` for the columns of `schema`, from its
    * footer alone. A column gets stats only when every row group has a
    * null count and, unless all its values are null, bounds that decode
    * exactly into the column's type ([[decoder]]); a file without stats
    * for a column is always a range candidate on it.
    */
  def ofFile(in: InputFile, schema: StructType): FileStats = {
    val reader = ParquetFileReader.open(in)
    val footer = try reader.getFooter finally reader.close()
    val meta = footer.getFileMetaData
    // bounds written in the legacy hybrid calendar are not the proleptic
    // days and micros the column reads as
    val legacy = meta.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime")
    val blocks = footer.getBlocks.asScala.toSeq
    val cols = for {
      f <- schema.fields.toSeq
      p <- meta.getSchema.getFields.asScala.collectFirst {
        case p: PrimitiveType if p.getName == f.name => p }
      decode <- decoder(f.dataType, p, legacy)
      chunks = blocks.flatMap(b => b.getColumns.asScala
        .find(_.getPath.toArray.sameElements(Array(f.name)))
        .map(c => (b.getRowCount, c.getStatistics: Statistics[_])))
      if chunks.size == blocks.size && chunks.forall { case (rows, s) =>
        s != null && s.isNumNullsSet && (s.hasNonNullValue || s.getNumNulls == rows) }
      valued = chunks.map(_._2).filter(_.hasNonNullValue)
      ord = Ordering.comparatorToOrdering(p.comparator[Any]())
      bounds <- if (valued.isEmpty) Some(None) else for {
        lo <- decode(valued.map(_.genericGetMin: Any).min(ord))
        hi <- decode(valued.map(_.genericGetMax: Any).max(ord))
      } yield Some((lo, hi))
    } yield f.name -> ColStats(chunks.map(_._2.getNumNulls).sum, bounds)
    FileStats(blocks.map(_.getRowCount).sum, cols.toMap)
  }

  /** How a footer bound of a column stored as `p` becomes the text of a
    * value of Spark type `t`; None when the two do not match exactly
    * (unsigned or narrower integers, millisecond, nanosecond, INT96 and
    * local timestamps, decimals, binary, nested and collated types). A
    * NaN bound and a string bound over [[MaxStringBytes]] decode to None.
    */
  private def decoder(t: DataType, p: PrimitiveType,
                      legacy: Boolean): Option[Any => Option[String]] = {
    val a = p.getLogicalTypeAnnotation
    def int(bits: Int) = a match {
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => a == null && bits >= 32
    }
    val plain = Some((v: Any) => Some(v.toString))
    (t, p.getPrimitiveTypeName) match {
      case (BooleanType, BOOLEAN) => plain
      case (ByteType, INT32) if int(8) => plain
      case (ShortType, INT32) if int(16) => plain
      case (IntegerType, INT32) if int(32) => plain
      case (LongType, INT64) if int(64) => plain
      case (DateType, INT32) if !legacy && a == LogicalTypeAnnotation.dateType() => plain
      case (TimestampType, INT64)
          if !legacy && a == LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS) => plain
      case (FloatType, FLOAT) | (DoubleType, DOUBLE) => Some { v =>
        // parquet writes a zero min as -0.0 and a zero max as +0.0, which
        // Spark orders as equal: a zero bound reads as 0.0
        val d = v.asInstanceOf[Number].doubleValue
        Option.when(!d.isNaN)(if (d == 0.0) "0.0" else v.toString)
      }
      case (StringType, BINARY) if a == LogicalTypeAnnotation.stringType() => Some { v =>
        val b = v.asInstanceOf[Binary]
        Option.when(b.length <= MaxStringBytes)(b.toStringUsingUTF8)
      }
      case _ => None
    }
  }

  /** Bound text as a value of `t`, through Spark's own conversions. */
  def typed(t: DataType, text: Column): Column = t match {
    case DateType => date_from_unix_date(text.cast(IntegerType))
    case TimestampType => timestamp_micros(text.cast(LongType))
    case _ => text.cast(t)
  }

  /** The manifest line: `s <rows>`, then ` <col>:<nulls>` per column in
    * name order with `:<min>:<max>` appended when it has bounds; names
    * and bounds URL-encoded, so no field holds a space, colon or newline.
    */
  def render(s: FileStats): String = (s"s ${s.rows}" +: s.cols.toSeq.sortBy(_._1).map {
    case (c, cs) => (Seq(c, cs.nulls.toString) ++ cs.bounds.toSeq.flatMap(b => Seq(b._1, b._2)))
      .map(URLEncoder.encode(_, UTF_8)).mkString(":")
  }).mkString(" ")

  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  /** The stats of a [[render]]ed line; None when the line does not parse. */
  def parse(line: String): Option[FileStats] = scala.util.Try {
    val rows +: cols = line.stripPrefix("s ").split(" ").toSeq
    FileStats(rows.toLong, cols.map(_.split(":", -1).toSeq).map {
      case Seq(c, n) => dec(c) -> ColStats(n.toLong, None)
      case Seq(c, n, lo, hi) => dec(c) -> ColStats(n.toLong, Some((dec(lo), dec(hi))))
    }.toMap)
  }.toOption
}
