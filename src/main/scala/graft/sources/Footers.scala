package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Parquet footers read on the driver with parquet-hadoop's
  * `ParquetFileReader`: a table's declared schema ([[schema]]) and a
  * new lake file's manifest statistics ([[stats]]). Each is one footer
  * read, where letting Spark infer or scan starts a job.
  */
private[graft] object Footers {

  private def read(conf: Configuration, f: FileStatus, rowGroups: Boolean): ParquetMetadata = {
    val opts = HadoopReadOptions.builder(conf, f.getPath)
      .withMetadataFilter(
        if (rowGroups) ParquetMetadataConverter.NO_FILTER
        else ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), opts)
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema of one footer, through the session's own
    * [[ParquetToSparkSchemaConverter]]: `nanosAsLong`, INT96 and NTZ
    * inference apply exactly as in Spark's read.
    */
  private def sparkSchema(spark: SparkSession, path: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The schema Spark's non-merging inference would give `path`, read
    * from the one footer it reads: `_common_metadata`, else `_metadata`,
    * else the first data file by path, skipping `_`/`.` names as
    * Spark's file index does. Partition columns are not included;
    * Spark still finds them from the directory names. None when the
    * path is missing or holds no parquet file.
    */
  def schema(spark: SparkSession, path: Path): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)
    val summaries = Set("_common_metadata", "_metadata")
    def skipped(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq.flatMap { c =>
        val n = c.getPath.getName
        if (summaries(n)) Seq(c) else if (skipped(n)) Nil else leaves(c)
      }
    val files =
      try leaves(fs.getFileStatus(path)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .map(f => sparkSchema(spark, f.getPath, read(conf, f, rowGroups = false)))
  }

  /** One data file's manifest statistics, as [[LogSync.statsFor]]'s scan
    * would aggregate them: physical `rows`, the time column's min/max
    * (µs) and null count, and the service axis' min/max.
    */
  final case class FileStats(rows: Long, minTs: Option[Long], maxTs: Option[Long],
                             nullTs: Long, minSvc: Option[String], maxSvc: Option[String])

  /** Where a file's service value comes from: a `name=value` directory
    * key above it, or a data column of the file.
    */
  sealed trait Svc
  final case class SvcDir(name: String, value: String) extends Svc
  final case class SvcColumn(name: String) extends Svc

  /** [[FileStats]] of `file` from its footer alone, or None when the
    * footer cannot give exactly what a scan gives. The time column
    * `tsName` must be INT64 `TIMESTAMP(MICROS, isAdjustedToUTC=true)`
    * (INT96 carries no statistics; other encodings are left to the
    * scan), and every row group must carry a null count, plus min/max
    * unless it is all null. A service column must be a UTF8 string
    * with the same statistics (a file without it is left to the scan,
    * whose one sampled schema decides whether it reads as null); a
    * directory service value is taken as given, unless the file also
    * carries a column of that name.
    */
  def stats(conf: Configuration, file: FileStatus, tsName: String, svc: Svc): Option[FileStats] = {
    val footer = read(conf, file, rowGroups = true)
    val fields: GroupType = footer.getFileMetaData.getSchema
    def leaf(name: String) =
      if (fields.containsField(name) && fields.getType(name).isPrimitive)
        Some(fields.getType(name).asPrimitiveType())
      else None
    val blocks = footer.getBlocks.asScala.toSeq
    // one column's row-group statistics folded to (min, max, nulls), or
    // None as soon as one row group lacks them
    def folded[A](name: String, value: Any => A)(implicit ord: Ordering[A])
        : Option[(Option[A], Option[A], Long)] =
      blocks.foldLeft(Option((Option.empty[A], Option.empty[A], 0L))) {
        case (None, _) => None
        case (Some((lo, hi, nulls)), b) =>
          b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(name)))
            .map(_.getStatistics).filter(st => st != null && st.isNumNullsSet)
            .flatMap { st =>
              if (st.hasNonNullValue) {
                val (a, z) = (value(st.genericGetMin), value(st.genericGetMax))
                Some((Some(lo.fold(a)(ord.min(_, a))), Some(hi.fold(z)(ord.max(_, z))),
                  nulls + st.getNumNulls))
              } else if (st.getNumNulls == b.getRowCount) Some((lo, hi, nulls + st.getNumNulls))
              else None
            }
      }
    val microsUtc = leaf(tsName).exists { t =>
      t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && (t.getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation => a.getUnit == TimeUnit.MICROS && a.isAdjustedToUTC
        case _ => false
      })
    }
    // Spark's string min/max is an unsigned byte order, the order
    // parquet keeps STRING statistics in; row groups fold in it too
    // (Java's UTF-16 order differs past the basic plane)
    val utf8Order = Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val svcStats: Option[(Option[String], Option[String])] = svc match {
      case SvcDir(n, v) => if (fields.containsField(n)) None else Some((Some(v), Some(v)))
      case SvcColumn(n) =>
        leaf(n).filter(t => t.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
            t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType())
          .flatMap(_ => folded[String](n, _.asInstanceOf[Binary].toStringUsingUTF8)(utf8Order))
          .map { case (lo, hi, _) => (lo, hi) }
    }
    val rows = blocks.map(_.getRowCount).sum
    // an empty file has no row for the scan's aggregate to report
    if (!microsUtc || rows == 0) None
    else for {
      (lo, hi, nulls) <- folded[Long](tsName, _.asInstanceOf[java.lang.Long].longValue)
      (sLo, sHi) <- svcStats
    } yield FileStats(rows, lo, hi, nulls, sLo, sHi)
  }

  /** µs since the epoch as the `java.sql.Timestamp` Spark collects. */
  def timestamp(micros: Long): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(micros)
}
