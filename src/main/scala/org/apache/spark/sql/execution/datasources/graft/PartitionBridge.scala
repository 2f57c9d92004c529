package org.apache.spark.sql.execution.datasources.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own file-index rules, which Spark scopes to its own
  * packages: partition inference, the relation-schema merge and the
  * hidden-name filter. A lake read that declares its schema types its
  * directory values, and picks its files, exactly as a root scan would.
  */
object PartitionBridge {

  /** Whether Spark's file listing skips a file or directory called
    * `name` (`.`-prefixed, `_`-prefixed without a `=`, `._COPYING_`).
    */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The partition columns Spark's file index infers for data files in
    * `leafDirs` under the base path `base` (both qualified), with the
    * session's inference, case and time-zone settings. Throws as the
    * index does when the directories disagree on their keys.
    */
  def partitionSchema(spark: SparkSession, base: Path, leafDirs: Seq[Path]): StructType = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs, conf.partitionColumnTypeInferenceEnabled,
      Set(base), None, conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths).partitionColumns
  }

  /** A file relation's schema from its data columns, made nullable, and
    * its partition columns, as `HadoopFsRelation` builds it.
    */
  def relationSchema(spark: SparkSession, data: StructType, partitions: StructType): StructType =
    PartitioningUtils.mergeDataAndPartitionSchema(data.asNullable, partitions,
      spark.sessionState.conf.caseSensitiveAnalysis)._1
}
