package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A deterministic, EXTERNALLY-SHAPED Iceberg v1 FileSystem table
  * built from the `nation` test table — the certification fixture for
  * [[IcebergExport.readExternal]] (the reference's sync-logs.sh
  * registration flow produces tables graft must consume, not just
  * emit; scripts/sync-logs.sh:1-86).
  *
  * Deliberately NOT the shape [[IcebergExport.export]] writes, so the
  * read path is proven against an independent writer, not a
  * round-trip of our own conventions:
  *  - format-version 1 with a bare `schema` and flat `partition-spec`
  *    (our export writes v2 `schemas`/`partition-specs`);
  *  - Avro manifests with the v1 field set — no sequence numbers, no
  *    `content` columns, no field-id props;
  *  - identity partition values TYPED (int) and present ONLY in the
  *    manifests — the data files do not contain the partition column
  *    (the hive-writer convention), so a reader that ignores manifest
  *    partition values returns the wrong schema;
  *  - no `version-hint.text` (the reader's highest-`v<N>` fallback);
  *  - TWO snapshots with the STALE one listed first in
  *    `metadata.json`, so a reader that grabs the first
  *    `manifest-list` string instead of anchoring on
  *    `current-snapshot-id` reads one file instead of five.
  *
  * Built once per sf-dir under /tmp (marker-file idempotent), like
  * [[graft.operators.LakeAnalytics]]'s lake fixtures.
  */
object IcebergFixture {

  private val nationTable = FixtureBuild("graft_ice_ext_v1")

  def externalNationTable(spark: SparkSession, dir: String): String =
    nationTable(spark, dir) { loc =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(loc).getFileSystem(conf)
      fs.mkdirs(new Path(s"$loc/data"))
      fs.mkdirs(new Path(s"$loc/metadata"))
      val nation = Tables.nation(spark, dir)
      val counts = nation.groupBy(col("n_regionkey")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val keys = counts.keys.toSeq.sorted
      require(keys.size >= 2, "fixture needs at least two regions for two snapshots")
      // one data file per region, WITHOUT the partition column
      val dataFiles: Seq[(String, Int)] = keys.map { k =>
        val stage = s"$loc/_stage_r$k"
        nation.filter(col("n_regionkey") === k)
          .select(col("n_nationkey"), col("n_name"))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new Path(stage)).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $stage"))
        val target = new Path(s"$loc/data/r$k.parquet")
        require(fs.rename(part, target), s"rename of $part failed")
        fs.delete(new Path(stage), true)
        (s"file://${target.toUri.getPath}", k)
      }
      // v1-shaped Avro schemas (see Scaladoc: independent writer)
      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[
          |{"name":"n_regionkey","type":["null","int"],"default":null}]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
      val listSchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"},
          |{"name":"partition_spec_id","type":"int"},
          |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}"""
          .stripMargin)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      def entry(uri: String, k: Int, snap: Long): GenericRecord = {
        val part = new GenericData.Record(partSchema)
        part.put("n_regionkey", k)
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", uri)
        d.put("file_format", "PARQUET")
        d.put("partition", part)
        d.put("record_count", counts(k))
        d.put("file_size_in_bytes",
          fs.getFileStatus(new Path(s"$loc/data/r$k.parquet")).getLen)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snap)
        e.put("data_file", d)
        e
      }
      def listRec(p: Path, len: Long, snap: Long): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", s"file://${p.toUri.getPath}")
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("added_snapshot_id", snap)
        r
      }
      val snapA = 1111L // stale: first region only
      val snapB = 2222L // current: every region, two manifests
      val mA = new Path(s"$loc/metadata/00000-mA.avro")
      val lenA = IcebergExport.writeAvro(spark, mA, entrySchema, Map.empty,
        dataFiles.take(1).iterator.map { case (u, k) => entry(u, k, snapA) })
      val mB = new Path(s"$loc/metadata/00001-mB.avro")
      val lenB = IcebergExport.writeAvro(spark, mB, entrySchema, Map.empty,
        dataFiles.drop(1).iterator.map { case (u, k) => entry(u, k, snapB) })
      val listA = new Path(s"$loc/metadata/snap-A.avro")
      IcebergExport.writeAvro(spark, listA, listSchema, Map.empty,
        Iterator.single(listRec(mA, lenA, snapA)))
      val listB = new Path(s"$loc/metadata/snap-B.avro")
      IcebergExport.writeAvro(spark, listB, listSchema, Map.empty,
        Iterator(listRec(mA, lenA, snapA), listRec(mB, lenB, snapB)))
      val metadata =
        s"""{"format-version":1,
           |"table-uuid":"10000000-2000-3000-4000-500000000000",
           |"location":"file://$loc",
           |"last-updated-ms":1,
           |"last-column-id":3,
           |"schema":{"type":"struct","fields":[
           |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
           |{"id":2,"name":"n_name","required":false,"type":"string"},
           |{"id":3,"name":"n_regionkey","required":false,"type":"int"}]},
           |"partition-spec":[{"name":"n_regionkey","transform":"identity",
           |"source-id":3,"field-id":1000}],
           |"properties":{},
           |"current-snapshot-id":$snapB,
           |"snapshots":[
           |{"snapshot-id":$snapA,"timestamp-ms":1,
           |"manifest-list":"file://${listA.toUri.getPath}"},
           |{"snapshot-id":$snapB,"timestamp-ms":2,
           |"manifest-list":"file://${listB.toUri.getPath}"}]}""".stripMargin
      val out = fs.create(new Path(s"$loc/metadata/v1.metadata.json"), true)
      out.write(metadata.getBytes("UTF-8"))
      out.close()
      // deliberately NO version-hint.text — exercises the fallback
    }

  // ---- v2 merge-on-read fixture ----

  private val nationMorTable = FixtureBuild("graft_ice_mor_v2")

  /** A v2 MERGE-ON-READ table over the full `nation` rows — the
    * certification fixture for [[IcebergExport.readChain]]'s row-level
    * delete application. TWO data files (sequence 1; split at
    * nationkey 13 so both hold rows at the deleted ordinals) plus
    * three delete files an external v2 writer (upsert/DELETE engines)
    * would leave:
    *
    *  - a POSITION delete file (sequence 2) deleting the rows of
    *    nationkeys 2 and 7 by (file_path, pos) — positions measured
    *    from the written parquet itself via `_metadata.row_index`, so
    *    the fixture never guesses row order, and naming FILE A only,
    *    so a reader that ignored file_path would wrongly drop file B's
    *    ordinals too;
    *  - an EQUALITY delete file (sequence 2, equality_ids =
    *    [n_nationkey]) deleting keys 11 and 14 — one key per data
    *    file, so equality deletes are proven global;
    *  - a STALE equality delete file (sequence 1 — NOT strictly above
    *    the data sequence) naming key 20: per the spec it must NOT
    *    apply, so key 20 surviving certifies sequence-aware
    *    application, not blanket anti-joins.
    *
    * Manifest entries leave `sequence_number` null so inheritance from
    * the manifest-list entry is exercised; the delete files live in
    * two delete manifests (content=1) keyed by their sequence.
    * Expected content: nation minus keys {2, 7, 11, 14}.
    */
  def externalNationMorTable(spark: SparkSession, dir: String): String =
    nationMorTable(spark, dir) { loc =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(loc).getFileSystem(conf)
      fs.mkdirs(new Path(s"$loc/data"))
      fs.mkdirs(new Path(s"$loc/metadata"))

      def writeOne(df: org.apache.spark.sql.DataFrame, target: Path): String = {
        val stage = s"$loc/_stage_${target.getName}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new Path(stage)).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $stage"))
        require(fs.rename(part, target), s"rename of $part failed")
        fs.delete(new Path(stage), true)
        s"file://${target.toUri.getPath}"
      }

      val nation = Tables.nation(spark, dir)
      // TWO data files, so position deletes are proven FILE-SCOPED:
      // the delete rows name file A's ordinals only — a reader that
      // ignored file_path would also drop the same ordinals from
      // file B and fail the oracle hash
      val dataUriA = writeOne(
        nation.filter(col("n_nationkey") < 13).orderBy(col("n_nationkey")),
        new Path(s"$loc/data/nation-a.parquet"))
      val dataUriB = writeOne(
        nation.filter(col("n_nationkey") >= 13).orderBy(col("n_nationkey")),
        new Path(s"$loc/data/nation-b.parquet"))
      val rowsA = nation.filter(col("n_nationkey") < 13).count()
      val rowsB = nation.filter(col("n_nationkey") >= 13).count()
      require(rowsB > 2, "file B needs rows at the deleted ordinals for the scope check")
      // positions of the position-deleted keys, measured from the
      // file (no assumption that key == ordinal)
      val posOf = spark.read.parquet(dataUriA)
        .select(col("n_nationkey"), col("_metadata.row_index").as("pos"))
        .filter(col("n_nationkey").isin(2, 7))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(posOf.size == 2, s"expected keys 2 and 7 in nation, got $posOf")
      import spark.implicits._
      val posDelUri = writeOne(
        posOf.values.toSeq.sorted.map(p => (dataUriA, p)).toDF("file_path", "pos"),
        new Path(s"$loc/data/pos-del.parquet"))
      val eqNewUri = writeOne(Seq(11, 14).toDF("n_nationkey"),
        new Path(s"$loc/data/eq-del-new.parquet"))
      val eqStaleUri = writeOne(Seq(20).toDF("n_nationkey"),
        new Path(s"$loc/data/eq-del-stale.parquet"))

      // v2 manifest entries: content + equality_ids, sequence_number
      // left NULL (inherited from the manifest-list entry)
      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"sequence_number","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"content","type":"int"},
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"},
          |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
          |"default":null}]}}]}""".stripMargin)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val snap = 3333L
      def entry(uri: String, content: Int, eqIds: Seq[Int], nRows: Long): GenericRecord = {
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", uri)
        d.put("file_format", "PARQUET")
        d.put("partition", new GenericData.Record(partSchema))
        d.put("record_count", nRows)
        d.put("file_size_in_bytes",
          fs.getFileStatus(new Path(uri.stripPrefix("file://"))).getLen)
        if (eqIds.nonEmpty)
          d.put("equality_ids", java.util.Arrays.asList(eqIds.map(Int.box): _*))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snap)
        e.put("data_file", d)
        e
      }
      def manifest(name: String, entries: Seq[GenericRecord]): (Path, Long) = {
        val p = new Path(s"$loc/metadata/$name")
        val len = IcebergExport.writeAvro(spark, p, entrySchema, Map.empty,
          entries.iterator)
        (p, len)
      }
      val (mData, lenData) = manifest("m-data.avro", Seq(
        entry(dataUriA, 0, Seq.empty, rowsA),
        entry(dataUriB, 0, Seq.empty, rowsB)))
      val (mDel2, lenDel2) = manifest("m-del2.avro", Seq(
        entry(posDelUri, 1, Seq.empty, 2),
        entry(eqNewUri, 2, Seq(1), 2)))
      val (mDel1, lenDel1) = manifest("m-del1.avro",
        Seq(entry(eqStaleUri, 2, Seq(1), 1)))

      val listSchema = IcebergExport.manifestListSchema
      def listRec(p: Path, len: Long, content: Int, seq: Long,
                  added: Int, addedRows: Long): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", s"file://${p.toUri.getPath}")
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snap)
        r.put("added_data_files_count", added)
        r.put("existing_data_files_count", 0)
        r.put("deleted_data_files_count", 0)
        r.put("added_rows_count", addedRows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r
      }
      val listPath = new Path(s"$loc/metadata/snap-mor.avro")
      IcebergExport.writeAvro(spark, listPath, listSchema,
        Map("format-version" -> "2", "snapshot-id" -> snap.toString),
        Iterator(
          listRec(mData, lenData, 0, 1L, 2, rowsA + rowsB),
          listRec(mDel1, lenDel1, 1, 1L, 1, 1),
          listRec(mDel2, lenDel2, 1, 2L, 2, 4)))

      val metadata =
        s"""{"format-version":2,
           |"table-uuid":"60000000-7000-8000-9000-a00000000000",
           |"location":"file://$loc",
           |"last-sequence-number":2,
           |"last-updated-ms":2,
           |"last-column-id":3,
           |"current-schema-id":0,
           |"schemas":[{"type":"struct","schema-id":0,"fields":[
           |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
           |{"id":2,"name":"n_name","required":false,"type":"string"},
           |{"id":3,"name":"n_regionkey","required":false,"type":"int"}]}],
           |"default-spec-id":0,
           |"partition-specs":[{"spec-id":0,"fields":[]}],
           |"last-partition-id":999,
           |"properties":{},
           |"current-snapshot-id":$snap,
           |"snapshots":[{"snapshot-id":$snap,"timestamp-ms":2,"sequence-number":2,
           |"manifest-list":"file://${listPath.toUri.getPath}","schema-id":0}]}"""
          .stripMargin
      val out = fs.create(new Path(s"$loc/metadata/v1.metadata.json"), true)
      out.write(metadata.getBytes("UTF-8"))
      out.close()
      val hint = fs.create(new Path(s"$loc/metadata/version-hint.text"), true)
      hint.write("1".getBytes("UTF-8"))
      hint.close()
    }

  private val scopedDeleteTable = FixtureBuild("graft_ice_scoped_v1")

  /** A PARTITIONED v2 table whose equality delete is PARTITION-SCOPED
    * — the case where ignoring the delete file's partition record
    * silently deletes rows in other partitions. Synthetic content so
    * the same ids exist in BOTH partitions:
    *
    *   grp=1: ids {1,2,3}   grp=2: ids {1,2,3}
    *
    * One data file per grp (sequence 1, ids present in the files, so
    * no attach is needed), plus an equality delete file
    * (equality_ids=[id], sequence 2) whose manifest entry carries the
    * partition record `grp=1` and whose rows name id 2. A correct
    * reader removes ONLY (grp=1, id=2); a reader that drops the scope
    * also removes (grp=2, id=2).
    */
  private val dayTable = FixtureBuild("graft_ice_ext_day")

  /** An externally-shaped v1 table over two days of `events`,
    * partitioned by the NON-IDENTITY transform `day(ts)` — the layout
    * a standard Iceberg log/event writer overwhelmingly produces
    * (`PARTITIONED BY (days(ts))`): the source column `ts` STAYS in
    * the data files, the manifests carry the derived epoch-day ints.
    * A reader that only honors identity transforms cannot open this
    * table at all; one that attached `ts_day` as a data column would
    * invent a column no data file has. Certified by
    * `lake_iceberg_day` against the raw events oracle.
    */
  def externalDayPartitionedTable(spark: SparkSession, dir: String): String =
    dayTable(spark, dir) { loc =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(loc).getFileSystem(conf)
      fs.mkdirs(new Path(s"$loc/data"))
      fs.mkdirs(new Path(s"$loc/metadata"))
      val events = Tables.events(spark, dir)
      val days = Seq("2024-01-12", "2024-01-13")
      val dataFiles: Seq[(String, Int, Long)] = days.map { day =>
        val stage = s"$loc/_stage_$day"
        events.filter(to_date(col("ts")) === lit(day))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new Path(stage)).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $stage"))
        val target = new Path(s"$loc/data/d$day.parquet")
        require(fs.rename(part, target), s"rename of $part failed")
        fs.delete(new Path(stage), true)
        val epochDay = java.time.LocalDate.parse(day).toEpochDay.toInt
        val rows = events.filter(to_date(col("ts")) === lit(day)).count()
        (s"file://${target.toUri.getPath}", epochDay, rows)
      }
      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[
          |{"name":"ts_day","type":["null","int"],"default":null}]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
      val listSchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"},
          |{"name":"partition_spec_id","type":"int"},
          |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}"""
          .stripMargin)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val snap = 4242L
      val entries = dataFiles.map { case (uri, epochDay, rows) =>
        val part = new GenericData.Record(partSchema)
        part.put("ts_day", epochDay)
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", uri)
        d.put("file_format", "PARQUET")
        d.put("partition", part)
        d.put("record_count", rows)
        d.put("file_size_in_bytes",
          fs.getFileStatus(new Path(uri.stripPrefix("file://"))).getLen)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snap)
        e.put("data_file", d)
        e
      }
      val m = new Path(s"$loc/metadata/00000-m0.avro")
      val len = IcebergExport.writeAvro(spark, m, entrySchema, Map.empty,
        entries.iterator)
      val listPath = new Path(s"$loc/metadata/snap-day.avro")
      IcebergExport.writeAvro(spark, listPath, listSchema, Map.empty, Iterator.single {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", s"file://${m.toUri.getPath}")
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("added_snapshot_id", snap)
        r
      })
      val metadata =
        s"""{"format-version":1,
           |"table-uuid":"90000000-a000-b000-c000-d00000000000",
           |"location":"file://$loc",
           |"last-updated-ms":1,
           |"last-column-id":6,
           |"schema":{"type":"struct","fields":[
           |{"id":1,"name":"event_id","required":false,"type":"long"},
           |{"id":2,"name":"ts","required":false,"type":"timestamp"},
           |{"id":3,"name":"user_id","required":false,"type":"long"},
           |{"id":4,"name":"event_type","required":false,"type":"string"},
           |{"id":5,"name":"value","required":false,"type":"double"},
           |{"id":6,"name":"props","required":false,"type":"string"}]},
           |"partition-spec":[{"name":"ts_day","transform":"day",
           |"source-id":2,"field-id":1000}],
           |"properties":{},
           |"current-snapshot-id":$snap,
           |"snapshots":[{"snapshot-id":$snap,"timestamp-ms":1,
           |"manifest-list":"file://${listPath.toUri.getPath}"}]}""".stripMargin
      val out = fs.create(new Path(s"$loc/metadata/v1.metadata.json"), true)
      out.write(metadata.getBytes("UTF-8"))
      out.close()
      val hint = fs.create(new Path(s"$loc/metadata/version-hint.text"), true)
      hint.write("1".getBytes("UTF-8"))
      hint.close()
    }

  private val dayScopedDeleteTable = FixtureBuild("graft_ice_dayscoped_v2")

  /** A v2 table partitioned by `day(ts)` carrying an equality delete
    * SCOPED to one day — the case where the reader must EVALUATE the
    * transform on the data side (`to_date(ts)` vs the manifest's
    * epoch-day value): the delete (id = 2) applies only to the first
    * day's rows; the second day's id = 2 must survive.
    */
  def externalDayScopedDeleteTable(spark: SparkSession): String =
    dayScopedDeleteTable(spark, "") { loc =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(loc).getFileSystem(conf)
      fs.mkdirs(new Path(s"$loc/data"))
      fs.mkdirs(new Path(s"$loc/metadata"))
      import spark.implicits._
      def writeOne(df: org.apache.spark.sql.DataFrame, target: Path): String = {
        val stage = s"$loc/_stage_${target.getName}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new Path(stage)).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $stage"))
        require(fs.rename(part, target), s"rename of $part failed")
        fs.delete(new Path(stage), true)
        s"file://${target.toUri.getPath}"
      }
      def t(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
      val day1 = "2024-01-12"; val day2 = "2024-01-13"
      val d1 = writeOne(Seq(1, 2, 3).map(i => (i, t(s"${day1}T10:0$i:00Z")))
        .toDF("id", "ts"), new Path(s"$loc/data/d1.parquet"))
      val d2 = writeOne(Seq(1, 2, 3).map(i => (i, t(s"${day2}T10:0$i:00Z")))
        .toDF("id", "ts"), new Path(s"$loc/data/d2.parquet"))
      val del = writeOne(Seq(2).toDF("id"), new Path(s"$loc/data/eq-del.parquet"))
      val epoch1 = java.time.LocalDate.parse(day1).toEpochDay.toInt
      val epoch2 = java.time.LocalDate.parse(day2).toEpochDay.toInt

      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"sequence_number","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"content","type":"int"},
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[
          |{"name":"ts_day","type":["null","int"],"default":null}]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"},
          |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
          |"default":null}]}}]}""".stripMargin)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val snap = 5555L
      def entry(uri: String, content: Int, day: Option[Int],
                eqIds: Seq[Int], n: Long): GenericRecord = {
        val part = new GenericData.Record(partSchema)
        day.foreach(d => part.put("ts_day", d))
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", uri)
        d.put("file_format", "PARQUET")
        d.put("partition", part)
        d.put("record_count", n)
        d.put("file_size_in_bytes",
          fs.getFileStatus(new Path(uri.stripPrefix("file://"))).getLen)
        if (eqIds.nonEmpty)
          d.put("equality_ids", java.util.Arrays.asList(eqIds.map(Int.box): _*))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snap)
        e.put("data_file", d)
        e
      }
      def manifest(name: String, entries: Seq[GenericRecord]): (Path, Long) = {
        val p = new Path(s"$loc/metadata/$name")
        (p, IcebergExport.writeAvro(spark, p, entrySchema, Map.empty, entries.iterator))
      }
      val (mData, lenData) = manifest("m-data.avro", Seq(
        entry(d1, 0, Some(epoch1), Seq.empty, 3),
        entry(d2, 0, Some(epoch2), Seq.empty, 3)))
      val (mDel, lenDel) = manifest("m-del.avro", Seq(
        entry(del, 2, Some(epoch1), Seq(1), 1))) // SCOPED to day 1
      val listSchema = IcebergExport.manifestListSchema
      def listRec(p: Path, len: Long, content: Int, seq: Long): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", s"file://${p.toUri.getPath}")
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snap)
        r.put("added_data_files_count", 1)
        r.put("existing_data_files_count", 0)
        r.put("deleted_data_files_count", 0)
        r.put("added_rows_count", 1L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r
      }
      val listPath = new Path(s"$loc/metadata/snap-dayscoped.avro")
      IcebergExport.writeAvro(spark, listPath, listSchema,
        Map("format-version" -> "2", "snapshot-id" -> snap.toString),
        Iterator(listRec(mData, lenData, 0, 1L), listRec(mDel, lenDel, 1, 2L)))
      val metadata =
        s"""{"format-version":2,
           |"table-uuid":"a0000000-b000-c000-d000-e00000000000",
           |"location":"file://$loc",
           |"last-sequence-number":2,"last-updated-ms":2,"last-column-id":2,
           |"current-schema-id":0,
           |"schemas":[{"type":"struct","schema-id":0,"fields":[
           |{"id":1,"name":"id","required":false,"type":"int"},
           |{"id":2,"name":"ts","required":false,"type":"timestamp"}]}],
           |"default-spec-id":0,
           |"partition-specs":[{"spec-id":0,"fields":[
           |{"name":"ts_day","transform":"day","source-id":2,"field-id":1000}]}],
           |"last-partition-id":1000,
           |"properties":{},
           |"current-snapshot-id":$snap,
           |"snapshots":[{"snapshot-id":$snap,"timestamp-ms":2,"sequence-number":2,
           |"manifest-list":"file://${listPath.toUri.getPath}","schema-id":0}]}"""
          .stripMargin
      val out = fs.create(new Path(s"$loc/metadata/v1.metadata.json"), true)
      out.write(metadata.getBytes("UTF-8"))
      out.close()
      val hint = fs.create(new Path(s"$loc/metadata/version-hint.text"), true)
      hint.write("1".getBytes("UTF-8"))
      hint.close()
    }

  def externalScopedDeleteTable(spark: SparkSession): String =
    scopedDeleteTable(spark, "") { loc =>
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(loc).getFileSystem(conf)
      fs.mkdirs(new Path(s"$loc/data"))
      fs.mkdirs(new Path(s"$loc/metadata"))
      import spark.implicits._
      def writeOne(df: org.apache.spark.sql.DataFrame, target: Path): String = {
        val stage = s"$loc/_stage_${target.getName}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new Path(stage)).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $stage"))
        require(fs.rename(part, target), s"rename of $part failed")
        fs.delete(new Path(stage), true)
        s"file://${target.toUri.getPath}"
      }
      val g1 = writeOne(Seq((1, 1), (2, 1), (3, 1)).toDF("id", "grp"),
        new Path(s"$loc/data/g1.parquet"))
      val g2 = writeOne(Seq((1, 2), (2, 2), (3, 2)).toDF("id", "grp"),
        new Path(s"$loc/data/g2.parquet"))
      val del = writeOne(Seq(2).toDF("id"), new Path(s"$loc/data/eq-del.parquet"))

      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"sequence_number","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"content","type":"int"},
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[
          |{"name":"grp","type":["null","int"],"default":null}]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"},
          |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
          |"default":null}]}}]}""".stripMargin)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val snap = 4444L
      def entry(uri: String, content: Int, grp: Option[Int],
                eqIds: Seq[Int], n: Long): GenericRecord = {
        val part = new GenericData.Record(partSchema)
        grp.foreach(g => part.put("grp", g))
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", uri)
        d.put("file_format", "PARQUET")
        d.put("partition", part)
        d.put("record_count", n)
        d.put("file_size_in_bytes",
          fs.getFileStatus(new Path(uri.stripPrefix("file://"))).getLen)
        if (eqIds.nonEmpty)
          d.put("equality_ids", java.util.Arrays.asList(eqIds.map(Int.box): _*))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snap)
        e.put("data_file", d)
        e
      }
      def manifest(name: String, entries: Seq[GenericRecord]): (Path, Long) = {
        val p = new Path(s"$loc/metadata/$name")
        (p, IcebergExport.writeAvro(spark, p, entrySchema, Map.empty, entries.iterator))
      }
      val (mData, lenData) = manifest("m-data.avro", Seq(
        entry(g1, 0, Some(1), Seq.empty, 3),
        entry(g2, 0, Some(2), Seq.empty, 3)))
      val (mDel, lenDel) = manifest("m-del.avro", Seq(
        entry(del, 2, Some(1), Seq(1), 1))) // SCOPED to grp=1
      val listSchema = IcebergExport.manifestListSchema
      def listRec(p: Path, len: Long, content: Int, seq: Long): GenericRecord = {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", s"file://${p.toUri.getPath}")
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snap)
        r.put("added_data_files_count", 1)
        r.put("existing_data_files_count", 0)
        r.put("deleted_data_files_count", 0)
        r.put("added_rows_count", 1L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r
      }
      val listPath = new Path(s"$loc/metadata/snap-scoped.avro")
      IcebergExport.writeAvro(spark, listPath, listSchema,
        Map("format-version" -> "2", "snapshot-id" -> snap.toString),
        Iterator(listRec(mData, lenData, 0, 1L), listRec(mDel, lenDel, 1, 2L)))
      val metadata =
        s"""{"format-version":2,
           |"table-uuid":"70000000-8000-9000-a000-b00000000000",
           |"location":"file://$loc",
           |"last-sequence-number":2,"last-updated-ms":2,"last-column-id":2,
           |"current-schema-id":0,
           |"schemas":[{"type":"struct","schema-id":0,"fields":[
           |{"id":1,"name":"id","required":false,"type":"int"},
           |{"id":2,"name":"grp","required":false,"type":"int"}]}],
           |"default-spec-id":0,
           |"partition-specs":[{"spec-id":0,"fields":[
           |{"name":"grp","transform":"identity","source-id":2,"field-id":1000}]}],
           |"last-partition-id":1000,
           |"properties":{},
           |"current-snapshot-id":$snap,
           |"snapshots":[{"snapshot-id":$snap,"timestamp-ms":2,"sequence-number":2,
           |"manifest-list":"file://${listPath.toUri.getPath}","schema-id":0}]}"""
          .stripMargin
      val out = fs.create(new Path(s"$loc/metadata/v1.metadata.json"), true)
      out.write(metadata.getBytes("UTF-8"))
      out.close()
      val hint = fs.create(new Path(s"$loc/metadata/version-hint.text"), true)
      hint.write("1".getBytes("UTF-8"))
      hint.close()
    }
}
