package org.apache.spark.sql.execution.datasources.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory,
  PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructType, TimestampType}

/** A file index over exactly the lake files a registry keeps: the shape
  * of Spark's `MetadataLogFileIndex`, which lists a file-sink log
  * instead of the directory. Reads over it run no root listing, no
  * schema inference and no keep-set join.
  *
  * `base` is the qualified lake root (the `basePath` partition
  * discovery starts from), `files` the kept data files and `schema` the
  * relation schema a root scan resolves, passed as the user-specified
  * schema so directory values are typed as that scan types them.
  * `zoneMaps` holds each file's µs `[min, max]` over the column `time`;
  * [[listFiles]] drops a file whose range cannot satisfy a conjunct
  * `time <op> literal` of the scan's data filters ([[RegistryFileIndex.mayMatch]]).
  * A file without both stats is always kept.
  */
class RegistryFileIndex(
    spark: SparkSession,
    val base: Path,
    files: Seq[FileStatus],
    zoneMaps: Map[Path, (Long, Long)],
    val time: String,
    val schema: StructType)
  extends PartitioningAwareFileIndex(spark, Map("basePath" -> base.toString), Some(schema)) {

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    leafFiles.values.toArray.groupBy(_.getPath.getParent)

  override def rootPaths: Seq[Path] = Seq(base)

  override def refresh(): Unit = ()

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = super.listFiles(partitionFilters, dataFilters)
    val bounds = dataFilters.flatMap(RegistryFileIndex.conjuncts)
      .flatMap(RegistryFileIndex.bound(time, _))
    if (bounds.isEmpty) dirs
    else dirs.map(d => d.copy(files = d.files.filter(f => zoneMaps.get(f.getPath).forall {
        case (lo, hi) => bounds.forall { case (op, v) => RegistryFileIndex.mayMatch(op, v, lo, hi) }
      })))
      .filter(_.files.nonEmpty)
  }

  // two indexes over the same files are the same relation, so plans
  // built by separate reads of one lake state compare equal (the cache
  // manager matches them, as it matched the shared root scan)
  override def equals(other: Any): Boolean = other match {
    case o: RegistryFileIndex =>
      base == o.base && time == o.time && schema == o.schema && leafFiles.keySet == o.leafFiles.keySet
    case _ => false
  }

  override def hashCode(): Int = (base, leafFiles.keySet).hashCode()
}

object RegistryFileIndex {

  /** A comparison of the time column with a literal, time on the left. */
  sealed trait Op
  case object Lt extends Op
  case object Le extends Op
  case object Gt extends Op
  case object Ge extends Op
  case object Eq extends Op

  /** Whether a file whose time values lie in `[lo, hi]` may hold a row
    * with `time op v` — the one zone-map rule, shared by the scan's
    * file pruning and the registry's keep-sets and prune counts.
    */
  def mayMatch(op: Op, v: Long, lo: Long, hi: Long): Boolean = op match {
    case Lt => lo < v
    case Le => lo <= v
    case Gt => hi > v
    case Ge => hi >= v
    case Eq => lo <= v && v <= hi
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def opOf(c: BinaryComparison): Option[Op] = c match {
    case _: LessThan => Some(Lt)
    case _: LessThanOrEqual => Some(Le)
    case _: GreaterThan => Some(Gt)
    case _: GreaterThanOrEqual => Some(Ge)
    case _: EqualTo => Some(Eq)
    case _ => None
  }

  private def flip(op: Op): Op = op match {
    case Lt => Gt
    case Le => Ge
    case Gt => Lt
    case Ge => Le
    case Eq => Eq
  }

  /** The bound one conjunct puts on `time`: `time <op> v` or `v <op>
    * time` for a non-null timestamp literal `v` (µs). Any other shape —
    * a cast, a non-literal side, another column — bounds nothing.
    */
  private def bound(time: String, e: Expression): Option[(Op, Long)] = e match {
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: Attribute, Literal(v: Long, TimestampType)) if a.name == time => opOf(c).map(_ -> v)
      case (Literal(v: Long, TimestampType), a: Attribute) if a.name == time =>
        opOf(c).map(o => flip(o) -> v)
      case _ => None
    }
    case _ => None
  }

  /** The index's files as a parquet relation: partition columns as the
    * index infers them from the kept directories, every other column
    * of the index's schema as data. `_metadata` columns resolve on it.
    * Throws as partition discovery does when the kept directories
    * disagree on their keys.
    */
  def scan(spark: SparkSession, index: RegistryFileIndex): DataFrame = {
    val parts = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val data = StructType(index.schema.filterNot(f => parts.exists(p => resolver(p.name, f.name))))
    val rel = HadoopFsRelation(index, parts, data, None, new ParquetFileFormat,
      Map("basePath" -> index.base.toString))(spark)
    spark.baseRelationToDataFrame(rel)
  }
}
