package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericData, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg METADATA EXPORT — the interop bridge the reference gets
  * from its REST catalog (scripts/sync-logs.sh registers parquet into
  * an Iceberg catalog so ClickHouse can read `ice.otel.logs`;
  * docker-compose.yaml:39-50,66-76): write PUBLIC-SPEC Iceberg v2
  * table metadata (iceberg.apache.org/spec — metadata.json + Avro
  * manifest list + Avro manifest, HadoopCatalog `version-hint.text`
  * convention) describing the CURRENT active file set of a
  * [[LogSync]]-managed lake, so an external Iceberg FileSystem-catalog
  * client can read a graft lake without graft.
  *
  * What is exported, and the deliberate simplifications (documented,
  * spec-legal):
  *  - INCREMENTAL snapshots: each export writes DELTA manifests for
  *    what changed since the previous export (new data files, new
  *    delete files, removed-file restatements) and chains the new
  *    snapshot to its parent (`parent-snapshot-id` + carried
  *    manifests), retaining snapshot history — NOT a full restatement
  *    per round (the first export of a root is the one genuine full
  *    `append`; see the incremental path at [[export]]). Each export
  *    writes the next `v<N>.metadata.json` and bumps
  *    `version-hint.text`; prior metadata versions stay on disk
  *    (Iceberg's own metadata-versioning behavior).
  *  - Hive-style `k=v` directory partitions are exported as IDENTITY
  *    partition fields with STRING values (the directory spelling is
  *    the value; a `day=2024-01-12` dir exports as string, not date —
  *    one consistent reading for every client).
  *  - Spark-written parquet carries no Iceberg field-ids, so the
  *    metadata includes the spec's `schema.name-mapping.default`
  *    property — the standard fallback that maps column NAMES to the
  *    exported field ids.
  *  - Row counts / file sizes come from parquet FOOTERS (no data
  *    read); the export is a file-count-bounded control-plane job,
  *    like [[LogSync.sync]]'s listing.
  *
  * Everything here follows the public Iceberg table spec and the Avro
  * file container format only (Avro ships in Spark's own jars).
  */
object IcebergExport {

  // ---- tiny JSON writer (metadata.json is hand-assembled the same
  // way OtlpLogs hand-assembles OTLP JSON — no extra dependency) ----

  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Spark → Iceberg primitive type name; complex/unknown columns
    * export as string (the lake surface is primitives; a complex
    * column would need the spec's nested-type forms).
    */
  private def icebergType(dt: DataType): String = dt match {
    case StringType => "string"
    case LongType => "long"
    case IntegerType | ShortType | ByteType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case DateType => "date"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case _ => "string"
  }

  private[graft] final case class Field(id: Int, name: String, tpe: String)

  /** One DATA partition spec of the export: its spec-id, the ordered
    * identity columns (a file's `k=v` directory key list), and each
    * field's partition-field id (stable across specs — the same
    * column keeps its id in every spec that carries it, per the v2
    * rule that partition field ids are assigned once, table-wide).
    */
  private[graft] final case class SpecDef(id: Int, cols: Seq[String],
                                          fieldIds: Seq[Int],
                                          rawFieldsJson: Option[String] = None)

  /** The exported table state, resolved once per export. `seq` on
    * both files and deletes is the INTERNAL commit sequence — the
    * ordering the export's snapshot grouping must preserve externally.
    * `specs` is the full DATA partition-spec registry (a lake whose
    * directory layout changed mid-life carries one spec per layout
    * generation — Iceberg's partition-spec evolution); each file
    * binds the spec matching its own directory key list, and
    * `defaultSpecId` is the newest generation's.
    */
  private final case class State(fields: Seq[Field], partCols: Seq[String],
                                 deletes: Seq[LogSync.DeleteEntry],
                                 files: Seq[FileEntry],
                                 specs: Seq[SpecDef], defaultSpecId: Int)
  private final case class FileEntry(uri: String, size: Long, rows: Long,
                                     partValues: Seq[String], seq: Long = 0L,
                                     specId: Int = 0)

  /** Canonical URI for exported metadata: bare local paths gain the
    * `file://` scheme (external readers need absolute URIs); any
    * OTHER scheme (s3a, hdfs, …) passes through untouched — stripping
    * it would point readers at a nonexistent local path.
    */
  private def fileUri(p: String): String = {
    val scheme = new Path(p).toUri.getScheme
    if (scheme == null) "file://" + p
    else if (scheme == "file") "file://" + new Path(p).toUri.getPath
    else p
  }

  // newest (schema, rows) per DELETE-FILE uri:length — delete files
  // are immutable once written (rewrites mint fresh names), so the
  // pair fully identifies content. The LogSync.servedRegistry
  // discipline applied to the chain reader's per-file delete scans:
  // each readChain over a table with deletes paid one spark.read job
  // per delete file per query; under the registry byte cap the rows
  // are collected once per JVM and served as a LocalRelation, past it
  // the distributed scan runs unchanged.
  // inferred scan schema per (md5 of the sorted explicit path set) —
  // chain file sets are immutable (a new snapshot is a new set), so the
  // key needs no mtime; one entry per distinct chain state read
  // LRU-bounded (r19): both key spaces grow with table history (every
  // rewrite mints a fresh chain/delete-file set), so unbounded maps
  // leak for the JVM's life; eviction costs at most one re-read job.
  // Bounds sized far above any one query's live working set (entries
  // per chain/delete-file read) — at 64/256 a single read over a
  // longer chain evicted its own entries mid-query and re-read them
  // every invocation (measured as part of a ~2x regression on the
  // mutation-lake family); 4096 keeps steady-state reads
  // eviction-free while still bounding lifetime accumulation.
  private val sampledSchemaCache =
    graft.SessionCaches.boundedLru[String,
      org.apache.spark.sql.types.StructType](4096)

  private val deleteFileCache =
    graft.SessionCaches.boundedLru[String, (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])](4096)

  private def readDeleteFile(spark: SparkSession, uri: String): DataFrame = {
    val p = new Path(fileUri(uri))
    val len =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
      catch { case _: java.io.IOException => Long.MaxValue }
    if (len > LogSync.registryDriverCacheMaxBytes(spark))
      return spark.read.parquet(fileUri(uri))
    val (schema, rows) = deleteFileCache.computeIfAbsent(s"$uri:$len", { _ =>
      val df = spark.read.parquet(fileUri(uri))
      (df.schema, df.collect())
    })
    spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)
  }

  /** Hive `k=v` segments of a file path relative to the lake root, in
    * path order (URI paths compared scheme-free, so any FS works).
    */
  private def partSegments(root: String, file: String): Seq[(String, String)] = {
    val rootAbs = new Path(root).toUri.getPath
    val fileAbs = new Path(file).toUri.getPath
    val rel = if (fileAbs.startsWith(rootAbs)) fileAbs.drop(rootAbs.length) else fileAbs
    rel.split('/').toSeq.filter(_.contains('='))
      .map { seg => val i = seg.indexOf('='); (seg.take(i), seg.drop(i + 1)) }
  }

  /** Active data-file paths of the lake, sorted — the export's file
    * universe and the anchor for its field-id assignment.
    */
  private def activePaths(spark: SparkSession, root: String): Seq[String] = {
    val active = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull)
      .select(col("path")).collect().map(_.getString(0)).toSeq.sorted
    require(active.nonEmpty, s"nothing to export: no active files under $root")
    active
  }

  /** The export's schema resolution, shared by [[resolve]] and the
    * equality-delete writer ([[graft.sources.LakeDml.deleteEq]] stamps
    * its delete parquet columns with these SAME field ids — external
    * engines bind delete columns by id, so writer and exporter must
    * agree): data columns from the MERGED physical schema of every
    * active file (a schema-evolved lake must export the union —
    * LogSync's lake_merged add-column semantics; a first-file-only
    * schema would silently drop late columns from external readers),
    * ids = 1-based merged position; partition-directory columns
    * appended after. Explicit file list, no basePath: partition dirs
    * stay out of the physical schema. Reading every footer is a
    * file-count-bounded control-plane cost (Spark merges schemas
    * distributed).
    *
    * Id STABILITY is PERSISTED, not recomputed: ids once assigned live
    * in the append-only `_field_ids_v<N>` sidecar (name TAB id per
    * line; underscore-prefixed: invisible to data scans and sync;
    * versioned — newest wins — so rewrites are crash-atomic) and never
    * move. Recomputing ids from merged position each call — the old
    * scheme — trusted Spark's parallel schema merge to return the
    * same field ORDER every time, which it does not guarantee on an
    * evolved lake; a shifted assignment would make the ids embedded in
    * equality-delete parquet disagree with the `equality_ids` a later
    * export writes (external engines bind by id — graft's own
    * name-binding read would mask the corruption). The FIRST call
    * seeds the sidecar from the current merged order (continuity with
    * pre-sidecar exports); later-appearing columns append in SORTED
    * name order — deterministic whatever order the merge returns.
    * Renames/promotions/drops are ID-BOUND via [[LakeEvolve]] (round
    * 13): a rename binds the new name to the OLD id through
    * [[recordEvolvedField]], a promotion rewrites the recorded type,
    * a drop leaves the line (its id reserved forever) while the
    * schema log retires the name from every read.
    */
  /** The sidecar is VERSIONED (`_field_ids_v<N>`, newest wins; a bare
    * legacy `_field_ids` reads as version 0) so a rewrite is one
    * atomic rename into a fresh name — the old delete-then-rename
    * over a single path had an unprotected window where a crash
    * between the delete and the rename lost the persisted map
    * entirely, and the next call would RESEED ids from the current
    * merged field order, silently reassigning ids a lake's existing
    * equality-delete parquet and exported metadata already embed.
    * With versions, a crash before the rename leaves the old version
    * authoritative; a crash after it leaves both on disk and the
    * newest wins — there is no state from which the map vanishes.
    */
  private val FieldIdsVersionRe = "_field_ids_v([0-9]+)".r

  /** (current version, its path) — version 0 with the legacy bare
    * path when no versioned file exists yet (including the
    * nothing-on-disk case, where the legacy path simply won't exist).
    */
  private[graft] def fieldIdSidecarCurrent(spark: SparkSession,
                                           root: String): (Int, Path) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(new Path(root))) Seq.empty
      else fs.listStatus(new Path(root)).toSeq.flatMap(_.getPath.getName match {
        case FieldIdsVersionRe(v) => Some(v.toInt)
        case _ => None
      })
    if (versions.isEmpty) (0, new Path(s"$root/_field_ids"))
    else (versions.max, new Path(s"$root/_field_ids_v${versions.max}"))
  }

  /** Parsed `_field_ids` sidecar rows: (name, id, Spark catalogString
    * when recorded). Accepts the two-column pre-type format (type
    * reads as None — the next [[schemaFieldsFor]] upgrades the line).
    */
  private def readFieldIdSidecar(spark: SparkSession,
                                 root: String): Seq[(String, Int, Option[String])] = {
    val (_, sidecar) = fieldIdSidecarCurrent(spark, root)
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar)) return Seq.empty
    val in = fs.open(sidecar)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.split('\n').toSeq.map(_.trim).filter(_.nonEmpty).map { l =>
      l.split('\t') match {
        case Array(n, id) => (n, id.toInt, None)
        case Array(n, id, t) => (n, id.toInt, Some(t).filter(_.nonEmpty))
        case _ => sys.error(s"malformed _field_ids line under $root: '$l'")
      }
    }
  }

  /** (field id, Spark type) for `cols` from the persisted sidecar
    * ALONE — the NO-FOOTER-MERGE path the equality-delete writer takes
    * on its steady state: a CDC retraction stream commits thousands of
    * keyed deletes, and paying a merged-schema job over every active
    * footer per commit (the fallback path) is a per-batch planning
    * cost that grows with the LAKE at 100 TB, not the batch. Returns
    * None when the sidecar is absent, any column is missing or
    * untyped, or a recorded type fails to parse — callers fall back to
    * the merged-schema path, which refreshes the sidecar so the next
    * commit is fast.
    */
  private[graft] def fieldInfoFromSidecar(spark: SparkSession, root: String,
                                          cols: Seq[String]
                                         ): Option[Map[String, (Int, DataType)]] = {
    val rows = readFieldIdSidecar(spark, root)
    if (rows.isEmpty) return None
    val byName = rows.map(r => r._1 -> r).toMap
    val resolved = cols.flatMap { c =>
      byName.get(c).flatMap { case (_, id, t) =>
        t.flatMap(s => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromDDL(s)).toOption)
          .map(dt => c -> (id, dt))
      }
    }
    if (resolved.length == cols.length) Some(resolved.toMap) else None
  }

  /** Write `rows` as the next sidecar version (tmp + rename into a
    * fresh name — crash-atomic, see [[fieldIdSidecarCurrent]]).
    */
  private def writeFieldIdSidecar(spark: SparkSession, root: String,
                                  rows: Seq[(String, Int, Option[String])]): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (curV, curPath) = fieldIdSidecarCurrent(spark, root)
    val sidecar = new Path(s"$root/_field_ids_v${curV + 1}")
    val tmp = new Path(s"$root/_field_ids_tmp")
    val out = fs.create(tmp, true)
    try out.write(rows.map { case (n, id, t) =>
      s"$n\t$id\t${t.getOrElse("")}"
    }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(!fs.exists(sidecar) && fs.rename(tmp, sidecar),
      s"field-id sidecar swap conflict under $root: version ${curV + 1} " +
        "already exists or the rename failed — another writer won; re-plan")
    if (fs.exists(curPath)) { fs.delete(curPath, false); () }
  }

  /** [[graft.sources.LakeEvolve]]'s sidecar hook: bind `name` to the
    * EXISTING field id `id` at `typeDdl` — a rename adds the new name
    * at the old id (the old name's line stays, its id reserved and its
    * mapping preserved for name-mapping aliases); a promote rewrites
    * the name's recorded type. Also evicts the field-id memo (the
    * assignment changed without the manifest moving).
    */
  private[sources] def recordEvolvedField(spark: SparkSession, root: String,
                                          name: String, id: Int,
                                          typeDdl: String): Unit = {
    val existing = readFieldIdSidecar(spark, root)
    require(existing.nonEmpty,
      s"no field-id sidecar under $root — export (or exportFieldIds) first")
    val updated =
      if (existing.exists(_._1 == name))
        existing.map { case r @ (n, i, _) =>
          if (n == name) { require(i == id); (n, i, Some(typeDdl)) } else r
        }
      else existing :+ ((name, id, Some(typeDdl)))
    writeFieldIdSidecar(spark, root, updated)
    fieldIdsMemo.invalidate(spark, root)
  }

  private[sources] def schemaFieldsFor(spark: SparkSession, root: String,
                                       active: Seq[String]): (Seq[Field], Seq[String]) = {
    // partition columns: union of k=v keys in first-seen order,
    // surfaced under their CURRENT LOGICAL names — a layout-renamed
    // dir key (`service_name=` dirs, logical name `service`) exports
    // the logical name at the SAME fixed-base id (ids are positional
    // over the dir-key order, which a rename never changes): exactly
    // an Iceberg column rename
    val evoState0 = LakeEvolve.state(spark, root)
    val logicalOfDir: Map[String, String] = evoState0
      .map(_.layoutOf.flatMap { case (cur, chain) =>
        chain.lastOption.map(_ -> cur) })
      .getOrElse(Map.empty)
    val partCols = active.flatMap(p => partSegments(root, p)
      .map(s => logicalOfDir.getOrElse(s._1, s._1))).distinct
    // an EVOLVED lake's physical footers cannot schema-merge (a
    // promotion leaves int and long footers under one name) and would
    // surface retired names as live columns — its logical schema comes
    // from the schema log instead, minus the partition-dir columns
    // (they get their own fixed-base ids below)
    val physical = evoState0 match {
      case Some(st) => StructType(LakeEvolve.requestSchema(spark, root, st)
        .fields.filter(f => !st.supersededNames.contains(f.name) &&
          !partCols.contains(f.name)))
      case None => spark.read.option("mergeSchema", "true")
        .parquet(active.map(fileUri): _*).schema
    }
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LOG-FIRST recovery: an evolution commits to the schema log
    // BEFORE its sidecar binding, so a crash between the two leaves
    // the log authoritative. Re-derive here what the sidecar may be
    // missing — a rename target binds to the entry's recorded id (a
    // fresh id would move the field on rename: invalid metadata), a
    // promoted name's recorded type follows the stored schema.
    val evoState = evoState0
    val evoEntries = evoState.map(_.entries).getOrElse(Seq.empty)
    val raw = readFieldIdSidecar(spark, root)
    val recovered = {
      val have = scala.collection.mutable.Set(raw.map(_._1).toSeq: _*)
      val out = Seq.newBuilder[(String, Int, Option[String])]
      evoEntries.foreach {
        case LakeEvolve.Evo("rename", id, _, to, _)
          if id >= 0 && !have.contains(to) =>
          out += ((to, id, None)); have += to
        case _ => ()
      }
      out.result()
    }
    val existing = raw ++ recovered
    val promoted: Set[String] = {
      val finals = evoState
        .map(st => (n: String) => st.currentName(n)).getOrElse(identity[String] _)
      evoEntries.collect {
        case LakeEvolve.Evo("promote", _, n, _, _) => finals(n)
      }.toSet
    }
    val known = existing.map(_._1).toSet
    val fresh = physical.fields.map(_.name).filterNot(known).toSeq
    val newNames = if (existing.isEmpty) fresh else fresh.sorted
    val nextId = (existing.map(_._2) :+ 0).max + 1
    val sparkTypeOf = physical.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val assigned: Seq[(String, Int, Option[String])] =
      existing.map { case (n, id, t) =>
        // a promoted column's authoritative type is the stored
        // schema's (a crash may have left the sidecar's stale-narrow)
        val tt = if (promoted.contains(n)) sparkTypeOf.get(n).orElse(t)
                 else t.orElse(sparkTypeOf.get(n))
        (n, id, tt)
      } ++
        newNames.zipWithIndex.map { case (n, i) =>
          (n, nextId + i, sparkTypeOf.get(n))
        }
    // rewrite when names were added, a log-first recovery re-derived a
    // binding, or any line's content changed (an untyped line gaining
    // its Spark type — what lets the equality-delete writer skip the
    // footer merge — or a promote recovery correcting a stale type)
    if (newNames.nonEmpty || recovered.nonEmpty || assigned != existing) {
      // write-tmp-then-rename INTO A FRESH VERSION: the rename's
      // target never exists, so there is no delete-then-rename window
      // — a crash at any point leaves either the old version
      // authoritative or both on disk with the newest winning
      // ([[fieldIdSidecarCurrent]]). A racing writer that minted the
      // same next version loses the rename and fails loudly, the
      // same single-writer discipline as [[LogSync.swapManifest]].
      writeFieldIdSidecar(spark, root, assigned)
    }
    val typeOf = physical.fields.map(f => f.name -> icebergType(f.dataType)).toMap
    // sidecar order IS id order; names absent from the current merge
    // (a wiped-and-rebuilt fixture) keep their ids reserved but don't
    // surface as schema fields. A name that is ALSO a partition-dir
    // key in some layout generation (a layout flip moves a column
    // between dirs and data — daily files carry `hour` as data, the
    // hourly generation stripped it into dirs) surfaces ONCE, as the
    // partition-source field below, keeping the id it had when it was
    // dir-only — ids never move.
    val dataFields = assigned.collect {
      case (n, id, _) if typeOf.contains(n) && !partCols.contains(n) =>
        Field(id, n, typeOf(n))
    }
    // partition-directory columns get ids from a FIXED base, not
    // appended after the data columns: a later add-column evolution
    // grows the data ids into 1..D+1 and would SHIFT appended
    // partition ids — but equality-delete files stamped with a
    // partition column's id at write time are immutable, so a shifted
    // assignment would make exported `equality_ids` disagree with the
    // ids embedded in the delete parquet (external engines bind by
    // id; graft's own name-binding reader would mask it). The fixed
    // base keeps every column's id stable under the only evolution
    // this lake performs (adding data columns).
    require(assigned.forall(_._2 < PartFieldIdBase),
      s"export supports data-column ids < $PartFieldIdBase, got " +
        s"${assigned.map(_._2).max}")
    val partFields = partCols.zipWithIndex.map { case (c, i) =>
      Field(PartFieldIdBase + i, c, "string")
    }
    (dataFields ++ partFields, partCols)
  }

  /** Schema-id base for partition-directory columns (the partition
    * SPEC's own field-ids start at 1000 per the spec's convention —
    * a different namespace; this base only has to dodge data ids).
    */
  private[sources] val PartFieldIdBase = 10000

  private val fieldIdsMemo = graft.SessionCaches.memo[String, (String, Map[String, Int])]()

  /** Column name → Iceberg field id under the export's assignment.
    * Memoized per data-manifest state ([[LogSync.stateToken]]'s
    * manifest part): the assignment depends only on the active file
    * set, and the equality-delete writer calls this once per DELETE
    * COMMIT — a CDC stream issuing thousands of keyed retractions must
    * not pay the schema-merge job over every active footer each time.
    */
  private[graft] def exportFieldIds(spark: SparkSession, root: String): Map[String, Int] = {
    // the schema-log version rides in the token: a rename/promote
    // changes the assignment without moving the manifest
    val token = s"${LogSync.stateToken(spark, root).manifest}:" +
      s"${LakeEvolve.logVersion(spark, root)}"
    // one entry per lake: a superseded head state can never be hit
    // again, so the memo stays O(lakes), not O(sync rounds in the session)
    fieldIdsMemo.refresh(spark, root)(_._1 == token) {
      (token, schemaFieldsFor(spark, root, activePaths(spark, root))
        ._1.map(f => f.name -> f.id).toMap)
    }._2
  }

  /** The reserved spec-id of the UNPARTITIONED spec row-level delete
    * manifests are written under. Data specs mint around it (0, then
    * 2, 3, …) so a layout generation can never collide with it.
    */
  private[graft] val DeleteSpecId = 1

  private def resolve(spark: SparkSession, root: String,
                      prevMd: Option[IcebergJson.V]): State = {
    val conf = spark.sparkContext.hadoopConfiguration
    val active = activePaths(spark, root)
    val (allFields, partCols) = schemaFieldsFor(spark, root, active)
    // layout-renamed dir keys surface under their logical names in
    // specs and manifests (matching the exported schema); dirs and
    // parsed values are untouched
    val logicalOfDir: Map[String, String] = LakeEvolve.state(spark, root)
      .map(_.layoutOf.flatMap { case (cur, chain) =>
        chain.lastOption.map(_ -> cur) })
      .getOrElse(Map.empty)
    // per-file internal commit sequence (null = pre-upgrade = 0)
    val seqOf = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull)
      .select(col("path"), coalesce(col("seq"), lit(0L))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // ---- PARTITION-SPEC REGISTRY (spec evolution) ----
    // Each file binds the spec whose column list IS its own directory
    // key list; a layout the registry hasn't seen mints the next
    // spec-id (skipping the reserved delete spec). Prior ids and
    // partition-FIELD ids carry forward from the previous metadata —
    // both are immutable once published, so carried manifests stay
    // resolvable. A restatement restarts the registry (consistent
    // with its schema restart: nothing references the old entries).
    val prevSpecs: Seq[SpecDef] = prevMd.toSeq.flatMap { md =>
      md.opt("partition-specs").map(_.arr).getOrElse(Vector.empty).flatMap { s =>
        val id = s("spec-id").long.toInt
        val fields = s("fields").arr
        // identity-only specs participate in layout matching; the
        // empty delete spec is excluded (a genuinely unpartitioned
        // DATA generation lives at spec-id 0, never 1)
        if (id == DeleteSpecId) None
        else if (fields.forall(_("transform").str == "identity"))
          Some(SpecDef(id, fields.map(_("name").str).toSeq,
            fields.map(_("field-id").long.toInt).toSeq))
        else
          // opaque (externally-minted transform spec): carried
          // verbatim in the metadata, never matched by a layout
          Some(SpecDef(id, Seq.empty, Seq.empty,
            Some(IcebergJson.render(s("fields")))))
      }
    }
    var specs = prevSpecs
    var partFieldIdOf: Map[String, Int] =
      prevSpecs.flatMap(s => s.cols.zip(s.fieldIds)).toMap
    def specFor(layout: Seq[String]): Int =
      specs.find(s => s.rawFieldsJson.isEmpty && s.cols == layout)
        .map(_.id).getOrElse {
        val id =
          if (specs.isEmpty) 0
          else math.max(specs.map(_.id).max + 1, 2) match {
            case DeleteSpecId => DeleteSpecId + 1
            case other => other
          }
        val nextFieldId = (999 +: partFieldIdOf.values.toSeq).max + 1
        var minted = 0
        val fieldIds = layout.map { c =>
          partFieldIdOf.getOrElse(c, { val v = nextFieldId + minted; minted += 1
            partFieldIdOf += c -> v; v })
        }
        specs = specs :+ SpecDef(id, layout, fieldIds)
        id
      }

    val files = active.map { p =>
      val fsPath = new Path(p) // scheme-aware: resolves the file's own FS
      val fs = fsPath.getFileSystem(conf)
      val size = fs.getFileStatus(fsPath).getLen
      // row count from the parquet footer only — no data pages read
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fsPath, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val rows = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
                 finally reader.close()
      val segs = partSegments(root, p)
      val layout = segs.map(s => logicalOfDir.getOrElse(s._1, s._1))
      FileEntry(fileUri(p), size, rows, segs.map(_._2), seqOf.getOrElse(p, 0L),
        specFor(layout))
    }
    // the default spec is the NEWEST generation's: the layout of the
    // file with the highest commit sequence (path breaks ties) — the
    // same newest-wins rule as LogCompact.inferLayout
    val defaultSpecId =
      if (files.isEmpty) specFor(Seq.empty)
      else files.maxBy(f => (f.seq, f.uri)).specId
    // active MOR delete files (position AND equality) ride along with
    // their manifest-recorded stats and sequence numbers (no footer
    // reads — LakeDml statted them at write time)
    State(allFields, partCols, LogSync.deleteEntries(spark, root), files,
      specs, defaultSpecId)
  }

  // ---- Iceberg schema / spec JSON fragments (shared by
  // metadata.json and the Avro files' key-value metadata) ----

  private def schemaJson(fields: Seq[Field], schemaId: Int = 0): String =
    s"""{"type":"struct","schema-id":$schemaId,"fields":[${
      fields.map(f => s"""{"id":${f.id},"name":${jstr(f.name)},"required":false,"type":${jstr(f.tpe)}}""")
        .mkString(",")}]}"""

  private def specFieldsJson(st: State, spec: SpecDef): String =
    spec.cols.zip(spec.fieldIds).map { case (c, fid) =>
      val src = st.fields.find(_.name == c).get.id
      s"""{"name":${jstr(c)},"transform":"identity","source-id":$src,"field-id":$fid}"""
    }.mkString("[", ",", "]")

  /** The spec's name-mapping: each field id with EVERY name it has
    * worn — current name first, retired names after (a renamed
    * column's pre-rename files physically carry the old name, and
    * name-mapping is exactly the mechanism an engine without parquet
    * field ids uses to resolve them to the same field).
    */
  private def nameMappingJson(fields: Seq[Field],
                              aliasesOf: Map[String, Seq[String]]): String =
    fields.map { f =>
      val names = f.name +: aliasesOf.getOrElse(f.name, Seq.empty)
      s"""{"field-id":${f.id},"names":[${names.map(jstr).mkString(",")}]}"""
    }.mkString("[", ",", "]")

  // ---- Avro schemas (field-id props inline, per the spec's
  // manifest/manifest-list tables; names follow the reference Java
  // implementation so existing readers resolve them) ----

  private def partitionRecordSchema(spec: SpecDef): String =
    s"""{"type":"record","name":"r102","fields":[${
      spec.cols.zip(spec.fieldIds).map { case (c, fid) =>
        s"""{"name":${jstr(c)},"type":["null","string"],"default":null,"field-id":$fid}"""
      }.mkString(",")}]}"""

  private def manifestEntrySchema(spec: SpecDef): Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
       |{"name":"status","type":"int","field-id":0},
       |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
       |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
       |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
       |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
       |  {"name":"content","type":"int","field-id":134},
       |  {"name":"file_path","type":"string","field-id":100},
       |  {"name":"file_format","type":"string","field-id":101},
       |  {"name":"partition","field-id":102,"type":${partitionRecordSchema(spec)}},
       |  {"name":"record_count","type":"long","field-id":103},
       |  {"name":"file_size_in_bytes","type":"long","field-id":104}
       |]}}]}""".stripMargin)

  /** Manifest-entry schema for DELETE manifests: same shape as the
    * data entry, but the partition record is EMPTY — graft's row-level
    * deletes are global (position rows name exact data files, which is
    * scope enough; equality rows bind by key everywhere), written
    * under an unpartitioned spec (spec-id 1) exactly as the spec
    * shapes unscoped deletes. An empty record also reads back as
    * "global" through [[walkManifest]] — an all-null PARTITIONED
    * record would instead scope the delete to the null partition and
    * drop it for every real one. `equality_ids` (the spec's field 135,
    * element 136) names the key columns of content=2 equality-delete
    * files by field id; null for position deletes.
    */
  private val deleteEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],
      |   "default":null,"field-id":135}
      |]}}]}""".stripMargin)

  private[graft] val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_data_files_count","type":"int","field-id":504},
      |{"name":"existing_data_files_count","type":"int","field-id":505},
      |{"name":"deleted_data_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private[graft] def writeAvro(spark: SparkSession, path: Path, schema: Schema,
                        meta: Map[String, String],
                        records: Iterator[GenericRecord]): Long = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    records.foreach(w.append)
    w.close() // closes the stream
    fs.getFileStatus(path).getLen
  }

  private def nextVersion(spark: SparkSession, metaDir: Path): Int = {
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir)) return 1
    val Re = "v([0-9]+)\\.metadata\\.json".r
    fs.listStatus(metaDir).flatMap(_.getPath.getName match {
      case Re(v) => Some(v.toInt); case _ => None
    }).foldLeft(0)(math.max) + 1
  }

  /** Export the lake's current active file set as Iceberg v2 table
    * metadata under `<root>/_iceberg/metadata/` (underscore-prefixed:
    * invisible to graft's own data scans). Returns the path of the
    * written `v<N>.metadata.json`. Idempotent in the catalog sense:
    * each call is a new metadata version describing the current state.
    *
    * INCREMENTAL like a real Iceberg writer: when the lake only GREW
    * since the previous export (the overwhelmingly common case — sync
    * registers appends), the new snapshot writes ONE manifest holding
    * only the new files and a manifest list that carries the previous
    * snapshot's manifest entries forward verbatim, with
    * `parent-snapshot-id` chaining and snapshot history retained in
    * the metadata — O(new files) per export, not O(lake). A no-change
    * export re-points a fresh metadata version at the SAME snapshot
    * (no new manifest objects at all). Only when files DISAPPEARED
    * (compaction/DML rewrite/vacuum) or the partition layout changed
    * does the export fall back to a full restatement — and then it
    * also DROPS prior snapshot history, because retained snapshots
    * would reference files [[LogCompact.vacuum]] is about to delete;
    * the summary says `overwrite` so catalog clients see the
    * discontinuity. Schema EVOLUTION across delta exports keeps a
    * real schemas HISTORY: a changed field set mints a new `schemas`
    * entry (id = max prior + 1) and becomes `current-schema-id`,
    * prior snapshots keep the schema-id they were exported under, and
    * field ids never move (`_field_ids` sidecar) — so a time-travel
    * reader resolves each snapshot's own column set. A restatement
    * drops snapshot history and restarts the schema list at id 0.
    *
    * LAYOUT-RENAMED lakes export under the CURRENT logical name
    * (specs, manifests, and schema all bind it at the partition
    * field's unchanged fixed-base id — an Iceberg-legal rename); a
    * rename that retires a name the previous export's carried
    * manifests bind forces one restatement, after which deltas
    * resume.
    */
  def export(spark: SparkSession, root: String): String = {
    val metaDir = new Path(s"$root/_iceberg/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(metaDir)
    val version = nextVersion(spark, metaDir)
    val now = System.currentTimeMillis()
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"graft-iceberg:$root".getBytes("UTF-8")).toString

    // previous export, resolved structurally; a corrupt prior chain
    // falls back to a clean full restatement rather than failing the
    // export. Resolved BEFORE the state: the partition-spec registry
    // carries ids forward from the previous metadata.
    // UNCAPPED resolve: the delta diff below needs the previous
    // snapshot's full file set — an overCap chain (files dropped,
    // manifest refs only) would read as "everything is new" and the
    // delta would re-chain every already-exported file, duplicating
    // every row behind the attach join. Export planning is the one
    // deliberate driver-side O(prev files) walk (same order as the
    // manifest diff it feeds); the read-path cap stays untouched.
    val prev: Option[Chain] =
      if (version > 1 && fs.exists(new Path(metaDir, "version-hint.text")))
        try Some(resolveChain(spark, metaDir, fileCap = Some(Long.MaxValue)))
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    // a LAYOUT-COLUMN RENAME since the previous export: the carried
    // manifests' partition records and the prior specs bind a RETIRED
    // name — a delta would surface the partition column under two
    // names across layout generations. Restate instead (the same
    // answer as any other carried-state invalidation: vanished files,
    // vanished deletes): the registry restarts clean and every new
    // manifest binds the current logical name. Exports that follow
    // the restatement see consistent names and go back to deltas —
    // the O(lake) rewrite is paid once per rename, not per export.
    val layoutRetired: Set[String] = LakeEvolve.state(spark, root)
      .map(_.layoutOf.values.flatten.toSet).getOrElse(Set.empty)
    val layoutRestate = prev.exists(p =>
      (p.partFields ++ p.specsById.values.flatten)
        .exists(f => layoutRetired.contains(f.name)))
    val st = resolve(spark, root,
      if (layoutRestate) None else prev.map(_.md))
    val prevUris = prev.map(_.files.map(f => normUri(f.uri)).toSet).getOrElse(Set.empty)
    val curUris = st.files.map(f => normUri(f.uri)).toSet
    val newFiles = st.files.filterNot(f => prevUris.contains(normUri(f.uri)))
    val removed = prevUris -- curUris
    // MOR position-delete files diff the same way data files do: new
    // ones chain as a DELETE snapshot; a VANISHED one (vacuumDeletes /
    // compaction reclaimed it) forces a restatement, because carried
    // manifests would keep referencing it
    val prevDelUris = prev.map(_.deleteFiles.map(f => normUri(f.uri)).toSet)
      .getOrElse(Set.empty)
    val curDelUris = st.deletes.map(d => normUri(fileUri(d.path))).toSet
    val newDeletes = st.deletes.filterNot(d =>
      prevDelUris.contains(normUri(fileUri(d.path))))
    val removedDeletes = prevDelUris -- curDelUris
    // a LAYOUT change no longer forces a restatement: the state's
    // spec registry minted a fresh spec-id for the new generation and
    // carried manifests keep their own (partition-spec evolution) —
    // only vanished files/deletes still restate
    val deltaEligible = !layoutRestate &&
      prev.exists(p => p.snapshotId.nonEmpty &&
        p.listRecords.nonEmpty && removed.isEmpty && removedDeletes.isEmpty &&
        p.partFields.forall(_.transform == "identity"))
    val prevMd = prev.map(_.md)

    def writeText(name: String, content: String): Path = {
      val p = new Path(metaDir, name)
      val out = fs.create(p, true)
      out.write(content.getBytes("UTF-8"))
      out.close()
      p
    }
    def finish(metadata: String): String = {
      val mdPath = writeText(s"v$version.metadata.json", metadata)
      writeText("version-hint.text", version.toString) // HadoopCatalog pointer
      mdPath.toString
    }
    def prevMetadataLogJson: String = prevMd.map { md =>
      val carried = md.opt("metadata-log").map(_.arr).getOrElse(Vector.empty)
        .map(IcebergJson.render)
      val entry = s"""{"timestamp-ms":${md("last-updated-ms").long},""" +
        s""""metadata-file":${jstr(fileUri(new Path(metaDir, s"v${version - 1}.metadata.json").toString))}}"""
      (carried :+ entry).mkString(",")
    }.getOrElse("")

    if (deltaEligible && newFiles.isEmpty && newDeletes.isEmpty) {
      // no-change export: a fresh metadata version pointing at the
      // SAME snapshot — no new manifest, list, or snapshot objects
      val md = prevMd.get.asInstanceOf[IcebergJson.JObj]
      return finish(IcebergJson.render(
        IcebergJson.updated(md, "last-updated-ms", IcebergJson.JNum(now.toString))))
    }

    val delta = deltaEligible // newFiles or newDeletes nonEmpty here
    val exportFiles = if (delta) newFiles else st.files
    val exportDeletes = if (delta) newDeletes else st.deletes

    // ---- SNAPSHOT GROUPING: preserve the internal commit order ----
    // One external snapshot can hold several internal commits ONLY
    // when collapsing them to one external sequence number cannot
    // change which rows a delete removes. Position deletes never
    // constrain the grouping (they bind by exact file path, rule ≤);
    // an EQUALITY delete applies to data STRICTLY BELOW its sequence,
    // so folding it into a snapshot that already holds earlier data
    // files would externally UN-apply it to exactly that data — the
    // interleaving-consistency rule: start a new snapshot whenever an
    // equality delete arrives over accumulated data. An upsertEq's
    // same-commit delete+insert pair stays together (same internal
    // seq), which is precisely the spec's same-snapshot visibility.
    // Restatements run through the SAME grouping over the full active
    // set, so surviving equality deletes keep sitting sequence-wise
    // between the data commits they separate — a single-sequence
    // restatement would stop applying them to every restated file.
    final case class Grp(files: Seq[FileEntry], deletes: Seq[LogSync.DeleteEntry])
    val seqGroups: Seq[Grp] = {
      // one pass per list (a per-seq filter scan would be quadratic in
      // distinct commit count — real for a lake built by many small
      // syncs)
      val filesBySeq = exportFiles.groupBy(_.seq)
      val delsBySeq = exportDeletes.groupBy(_.seq)
      (filesBySeq.keySet ++ delsBySeq.keySet).toSeq.sorted.map { s =>
        Grp(filesBySeq.getOrElse(s, Seq.empty), delsBySeq.getOrElse(s, Seq.empty))
      }
    }
    val buckets = scala.collection.mutable.ArrayBuffer.empty[Grp]
    seqGroups.foreach { g =>
      if (buckets.nonEmpty &&
          !(g.deletes.exists(_.isEq) && buckets.last.files.nonEmpty))
        buckets(buckets.length - 1) = Grp(
          buckets.last.files ++ g.files, buckets.last.deletes ++ g.deletes)
      else buckets += g
    }
    require(buckets.length < 1000,
      s"${buckets.length} interleaved commit groups in one export — export more often")

    // ---- SCHEMA-ID: bump on evolution, stamp per snapshot ----
    // A delta export over an evolved lake (new columns appeared since
    // the previous export) mints a NEW schemas entry at
    // max(prior ids)+1 and becomes current; prior snapshots keep the
    // schema-id they were exported under (their JSON carries forward
    // verbatim below), so a time-travel reader resolves each
    // snapshot's own schema instead of the newest one claiming the
    // whole history. Field IDS never move (the `_field_ids` sidecar),
    // so old-schema readers bind the shared columns identically. A
    // restatement drops snapshot history wholesale and restarts the
    // schema list at id 0 — consistent, since nothing references the
    // old entries anymore.
    def fieldSetOf(schemaObj: IcebergJson.V): Set[(Long, String, String)] =
      schemaObj("fields").arr.map(f =>
        (f("id").long, f("name").str, f("type").str)).toSet
    val curFieldSet = st.fields.map(f => (f.id.toLong, f.name, f.tpe)).toSet
    val (schemasJsonStr, curSchemaId) =
      if (!delta) (schemaJson(st.fields, 0), 0)
      else {
        val prevSchemas = prevMd.get.opt("schemas").map(_.arr)
          .getOrElse(Vector.empty)
        val prevCurId = prevMd.get.opt("current-schema-id")
          .map(_.long.toInt).getOrElse(0)
        val unchanged = prevSchemas
          .find(s => s("schema-id").long.toInt == prevCurId)
          .exists(s => fieldSetOf(s) == curFieldSet)
        if (unchanged)
          (prevSchemas.map(IcebergJson.render).mkString(","), prevCurId)
        else {
          val newId = (prevSchemas.map(_("schema-id").long.toInt) :+ 0).max + 1
          ((prevSchemas.map(IcebergJson.render) :+
            schemaJson(st.fields, newId)).mkString(","), newId)
        }
      }

    val specById = st.specs.map(s => s.id -> s).toMap
    val entrySchemas = st.specs.map(s => s.id -> manifestEntrySchema(s)).toMap
    val delDfSchema = deleteEntrySchema.getField("data_file").schema()
    val delPartSchema = delDfSchema.getField("partition").schema()
    def manifestMeta(spec: SpecDef) = Map(
      "schema" -> schemaJson(st.fields, curSchemaId),
      "schema-id" -> curSchemaId.toString,
      "partition-spec" -> specFieldsJson(st, spec),
      "partition-spec-id" -> spec.id.toString,
      "format-version" -> "2",
      "content" -> "data")
    val idOf = st.fields.map(f => f.name -> f.id).toMap

    // one external snapshot per bucket, sequence/parent/history
    // chained in order; the common non-interleaved case is exactly
    // one bucket — identical shape to the single-snapshot export
    var chainSeq = prevMd.map(_("last-sequence-number").long).getOrElse(0L)
    var parentId: Option[Long] = if (delta) prev.get.snapshotId else None
    var carried: Seq[GenericRecord] = if (delta) prev.get.listRecords else Seq.empty
    val newSnapshotJsons = Seq.newBuilder[String]
    val newLogEntries = Seq.newBuilder[String]
    var lastSnapshotId = 0L

    buckets.zipWithIndex.foreach { case (b, gi) =>
      chainSeq += 1
      val seq = chainSeq
      // unique across exports of this table even within one
      // millisecond: version strictly increases (by ≥1 per export, ×
      // 1000 here) and now never decreases, while gi < 1000 — so ids
      // strictly increase within and across exports (a collision
      // would need the clock to step back further than the version
      // stepped forward)
      val snapshotId = now + version.toLong * 1000 + gi
      lastSnapshotId = snapshotId

      // manifest files: one per (bucket × partition spec) — a mixed
      // bucket after a layout flip writes one manifest per layout
      // generation, each under ITS spec-id (a manifest's entries all
      // share one partition-record shape). A deletes-only bucket
      // writes no data manifest at all.
      val specGroups = b.files.groupBy(_.specId).toSeq.sortBy(_._1)
      val dataManifests = specGroups.map { case (specId, files) =>
        val spec = specById(specId)
        val entrySchema = entrySchemas(specId)
        val dfSchema = entrySchema.getField("data_file").schema()
        val partSchema = dfSchema.getField("partition").schema()
        val manifestPath = new Path(metaDir,
          f"graft-m$version%05d-$gi-s$specId.avro")
        val len = writeAvro(spark, manifestPath, entrySchema, manifestMeta(spec),
          files.iterator.map { f =>
            val part = new GenericData.Record(partSchema)
            spec.cols.zip(f.partValues).foreach { case (c, v) => part.put(c, v) }
            val d = new GenericData.Record(dfSchema)
            d.put("content", 0)
            d.put("file_path", f.uri)
            d.put("file_format", "PARQUET")
            d.put("partition", part)
            d.put("record_count", f.rows)
            d.put("file_size_in_bytes", f.size)
            val e = new GenericData.Record(entrySchema)
            e.put("status", 1) // ADDED
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", seq)
            e.put("file_sequence_number", seq)
            e.put("data_file", d)
            e
          })
        (manifestPath, len, specId, files)
      }

      // DELETE manifest: content=1 (position) and content=2
      // (equality, with the spec's `equality_ids` naming the key
      // columns' field ids) entries under the unpartitioned spec
      // (spec-id 1, empty partition record = a global delete).
      // Position deletes apply to data files with sequence ≤ theirs
      // (the rows name exact files); equality deletes to sequence
      // STRICTLY below — which the bucketing above keeps faithful to
      // the internal commit order.
      val deleteManifestPath = new Path(metaDir, f"graft-d$version%05d-$gi.avro")
      val deleteManifestLen =
        if (b.deletes.isEmpty) 0L
        else writeAvro(spark, deleteManifestPath, deleteEntrySchema,
          Map("schema" -> schemaJson(st.fields, curSchemaId),
            "schema-id" -> curSchemaId.toString,
            "partition-spec" -> "[]",
            "partition-spec-id" -> DeleteSpecId.toString,
            "format-version" -> "2", "content" -> "deletes"),
          b.deletes.iterator.map { del =>
            val d = new GenericData.Record(delDfSchema)
            d.put("content", if (del.isEq) 2 else 1)
            d.put("file_path", fileUri(del.path))
            d.put("file_format", "PARQUET")
            d.put("partition", new GenericData.Record(delPartSchema))
            d.put("record_count", del.rows)
            d.put("file_size_in_bytes", del.bytes)
            if (del.isEq) {
              val ids = del.eqCols.map(c => Int.box(idOf.getOrElse(c,
                sys.error(s"equality delete column '$c' not in export schema"))))
              d.put("equality_ids", java.util.Arrays.asList(ids: _*))
            }
            val e = new GenericData.Record(deleteEntrySchema)
            e.put("status", 1) // ADDED
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", seq)
            e.put("file_sequence_number", seq)
            e.put("data_file", d)
            e
          })

      // manifest list: everything accumulated so far (previous
      // snapshot's entries in a delta, earlier buckets of this
      // export) + this bucket's manifests. The VERSION and bucket
      // index in the filename keep it unique per export.
      val listPath = new Path(metaDir, f"snap-$snapshotId-$version-$uuid.avro")
      val addedRows = b.files.map(_.rows).sum
      val deletedRows = b.deletes.map(_.rows).sum
      val newListRecords = {
        val data = dataManifests.map { case (mp, len, specId, files) =>
          val r = new GenericData.Record(manifestListSchema)
          r.put("manifest_path", fileUri(mp.toString))
          r.put("manifest_length", len)
          r.put("partition_spec_id", specId)
          r.put("content", 0)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
          r.put("added_snapshot_id", snapshotId)
          r.put("added_data_files_count", files.length)
          r.put("existing_data_files_count", 0)
          r.put("deleted_data_files_count", 0)
          r.put("added_rows_count", files.map(_.rows).sum)
          r.put("existing_rows_count", 0L)
          r.put("deleted_rows_count", 0L)
          r
        }
        val del =
          if (b.deletes.isEmpty) Seq.empty
          else {
            val r = new GenericData.Record(manifestListSchema)
            r.put("manifest_path", fileUri(deleteManifestPath.toString))
            r.put("manifest_length", deleteManifestLen)
            r.put("partition_spec_id", DeleteSpecId)
            r.put("content", 1) // DELETES manifest
            r.put("sequence_number", seq)
            r.put("min_sequence_number", seq)
            r.put("added_snapshot_id", snapshotId)
            r.put("added_data_files_count", b.deletes.length)
            r.put("existing_data_files_count", 0)
            r.put("deleted_data_files_count", 0)
            r.put("added_rows_count", deletedRows)
            r.put("existing_rows_count", 0L)
            r.put("deleted_rows_count", 0L)
            Seq(r)
          }
        data ++ del
      }
      val parentStr = parentId.map(_.toString).getOrElse("null")
      writeAvro(spark, listPath, manifestListSchema,
        Map("format-version" -> "2", "snapshot-id" -> snapshotId.toString,
          "sequence-number" -> seq.toString, "parent-snapshot-id" -> parentStr),
        carried.iterator ++ newListRecords.iterator)
      carried = carried ++ newListRecords

      // the spec's summary operations: a data restatement is an
      // overwrite; a deletes-only commit is a delete; data + deletes
      // in one commit is an overwrite; pure growth is an append
      val operation =
        if (!delta && gi == 0 && removed.nonEmpty) "overwrite"
        else if (b.deletes.nonEmpty && b.files.isEmpty) "delete"
        else if (b.deletes.nonEmpty) "overwrite"
        else "append"
      val parentField =
        if (parentId.nonEmpty) s""""parent-snapshot-id":$parentStr,""" else ""
      val posDeleted = b.deletes.filterNot(_.isEq).map(_.rows).sum
      val eqDeleted = b.deletes.filter(_.isEq).map(_.rows).sum
      val deleteSummary =
        if (b.deletes.isEmpty) ""
        else s""","added-delete-files":"${b.deletes.length}",""" +
          s""""added-position-deletes":"$posDeleted",""" +
          s""""added-equality-deletes":"$eqDeleted""""
      newSnapshotJsons +=
        s"""{"sequence-number":$seq,"snapshot-id":$snapshotId,$parentField
           |"timestamp-ms":$now,"summary":{"operation":"$operation",
           |"added-data-files":"${b.files.length}","added-records":"$addedRows"$deleteSummary},
           |"manifest-list":${jstr(fileUri(listPath.toString))},"schema-id":$curSchemaId}"""
          .stripMargin.replace("\n", "")
      newLogEntries += s"""{"timestamp-ms":$now,"snapshot-id":$snapshotId}"""
      parentId = Some(snapshotId)
    }

    // delta: retain prior snapshot history; restatement: drop it (the
    // restated metadata no longer references the removed files)
    val snapshotsJson = (
      (if (delta) prevMd.get("snapshots").arr.map(IcebergJson.render)
       else Vector.empty) ++ newSnapshotJsons.result()).mkString(",")
    val snapshotLogJson = (
      (if (delta) prevMd.get.opt("snapshot-log").map(_.arr).getOrElse(Vector.empty)
        .map(IcebergJson.render)
       else Vector.empty) ++ newLogEntries.result()).mkString(",")

    val metadata =
      s"""{
         |"format-version":2,
         |"table-uuid":${jstr(uuid)},
         |"location":${jstr(fileUri(new Path(root).toString))},
         |"last-sequence-number":$chainSeq,
         |"last-updated-ms":$now,
         |"last-column-id":${st.fields.map(_.id).max},
         |"current-schema-id":$curSchemaId,
         |"schemas":[$schemasJsonStr],
         |"default-spec-id":${st.defaultSpecId},
         |"partition-specs":[${(st.specs.map(s =>
             s"""{"spec-id":${s.id},"fields":${
               s.rawFieldsJson.getOrElse(specFieldsJson(st, s))}}""") ++
           (if (st.deletes.nonEmpty)
             Seq(s"""{"spec-id":$DeleteSpecId,"fields":[]}""") else Seq.empty))
           .mkString(",")}],
         |"last-partition-id":${(999 +: st.specs.flatMap(_.fieldIds)).max},
         |"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{"schema.name-mapping.default":${jstr(nameMappingJson(st.fields,
           LakeEvolve.state(spark, root).map(_.aliasesOf).getOrElse(Map.empty)))}},
         |"current-snapshot-id":$lastSnapshotId,
         |"refs":{"main":{"snapshot-id":$lastSnapshotId,"type":"branch"}},
         |"snapshots":[$snapshotsJson],
         |"snapshot-log":[$snapshotLogJson],
         |"metadata-log":[$prevMetadataLogJson]
         |}""".stripMargin
    finish(metadata)
  }

  /** One export per (session, lake, LAKE STATE) — the guard contract
    * queries use so repeated runs read one metadata version instead of
    * minting a new snapshot per query, WITHOUT going stale on a
    * growing lake: the memo entry carries [[LogSync.stateToken]], so a
    * LakeIngest/OtlpHttp flush into the same root triggers a fresh
    * export on the next query and `lake_iceberg` can never diverge
    * from `lake_severity_by_service` on the same lake. The delete
    * registry (both kinds) is part of the table state: a
    * deleteMor/deleteEq commit must invalidate the memo even though
    * the DATA manifest didn't move. One entry per (session, lake): the
    * fresh export replaces the superseded one.
    */
  private val exportedOnce = graft.SessionCaches.memo[String, (String, String)]()

  def ensureExport(spark: SparkSession, root: String): String = {
    val st = LogSync.stateToken(spark, root)
    val token = s"${st.manifest}:${st.deletes}:${LakeEvolve.logVersion(spark, root)}"
    exportedOnce.refresh(spark, root)(_._1 == token)((token, export(spark, root)))._2
  }

  final case class ExpireStats(snapshotsDropped: Int, metadataDeleted: Int,
                               avroDeleted: Int)

  /** METADATA MAINTENANCE for the incremental export — the
    * expire-snapshots/expire-metadata half every real catalog runs:
    * each export mints a new `v<N>.metadata.json` and delta snapshots
    * accumulate manifests, so an append-only lake's metadata dir
    * otherwise grows without bound.
    *
    *  1. SNAPSHOT EXPIRY: when history exceeds `keepSnapshots`, a new
    *     metadata version is written whose `snapshots`/`snapshot-log`
    *     keep only the newest `keepSnapshots` entries (always
    *     including the current snapshot) — same current-snapshot-id,
    *     nothing about the data changes.
    *  2. METADATA VERSION EXPIRY: metadata.json files older than the
    *     newest `keepMetadataVersions` are deleted.
    *  3. ORPHAN SWEEP: every Avro object under the metadata dir that
    *     no SURVIVING metadata version references (walking ALL their
    *     retained snapshots' manifest-lists and manifests) is deleted.
    *
    * Touches ONLY `<root>/_iceberg/metadata` — data files are
    * [[LogCompact.vacuum]]'s jurisdiction. Cost is control-plane:
    * O(surviving metadata versions × their manifests). Time travel
    * reach shrinks to the retained history — the same trade every
    * `expireSnapshots` call makes.
    */
  def expireMetadata(spark: SparkSession, root: String,
                     keepMetadataVersions: Int = 3,
                     keepSnapshots: Int = 1): ExpireStats = {
    require(keepMetadataVersions >= 1 && keepSnapshots >= 1,
      "must keep at least one metadata version and one snapshot")
    val metaDir = new Path(s"$root/_iceberg/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hintPath = new Path(metaDir, "version-hint.text")
    require(fs.exists(hintPath), s"no Iceberg export under $root — nothing to expire")
    var version = readText(spark, hintPath).trim.toInt
    val md = IcebergJson.parse(readText(spark,
      new Path(metaDir, s"v$version.metadata.json")))

    // 1. snapshot expiry → one new metadata version with trimmed history
    val snaps = md("snapshots").arr
    val dropped =
      if (snaps.length <= keepSnapshots) 0
      else {
        val curId = md.opt("current-snapshot-id").map(_.long)
          .getOrElse(sys.error("no current-snapshot-id"))
        // newest by (sequence-number, timestamp) — NOT array position:
        // the spec doesn't constrain the snapshots array's order, and
        // trusting it could expire the newest history of an
        // externally-written table (same rule as resolveChain's
        // timestamp fallback)
        val kept = snaps.sortBy(s =>
          (s.opt("sequence-number").map(_.long).getOrElse(0L),
            s("timestamp-ms").long)).takeRight(keepSnapshots)
        require(kept.exists(_("snapshot-id").long == curId),
          "the current snapshot must be inside the kept history tail")
        val keptIds = kept.map(_("snapshot-id").long).toSet
        val trimmedLog = md.opt("snapshot-log").map(_.arr).getOrElse(Vector.empty)
          .filter(e => keptIds.contains(e("snapshot-id").long))
        var next = IcebergJson.updated(md.asInstanceOf[IcebergJson.JObj],
          "snapshots", IcebergJson.JArr(kept))
        next = IcebergJson.updated(next, "snapshot-log", IcebergJson.JArr(trimmedLog))
        next = IcebergJson.updated(next, "last-updated-ms",
          IcebergJson.JNum(System.currentTimeMillis().toString))
        version += 1
        val out = fs.create(new Path(metaDir, s"v$version.metadata.json"), true)
        out.write(IcebergJson.render(next).getBytes("UTF-8")); out.close()
        val h = fs.create(hintPath, true)
        h.write(version.toString.getBytes("UTF-8")); h.close()
        snaps.length - kept.length
      }

    // 2. metadata version expiry
    val Re = "v([0-9]+)\\.metadata\\.json".r
    val versions = fs.listStatus(metaDir).flatMap(_.getPath.getName match {
      case Re(v) => Some(v.toInt); case _ => None
    }).sorted.toSeq
    val keptVersions = versions.takeRight(keepMetadataVersions)
    val mdDeleted = versions.dropRight(keepMetadataVersions).map { v =>
      fs.delete(new Path(metaDir, s"v$v.metadata.json"), false); 1
    }.sum

    // 3. orphan sweep: every avro a surviving version still references
    val referenced = keptVersions.flatMap { v =>
      val m = IcebergJson.parse(readText(spark, new Path(metaDir, s"v$v.metadata.json")))
      m("snapshots").arr.flatMap { s =>
        s.opt("manifest-list").map(_.str).toSeq.flatMap { lst =>
          lst +: readAvro(spark, lst).map(_.get("manifest_path").toString)
        } ++ s.opt("manifests").map(_.arr.map(_.str)).getOrElse(Vector.empty)
      }
    }.map(u => new Path(u).getName).toSet
    val avroDeleted = fs.listStatus(metaDir)
      .filter(st => st.getPath.getName.endsWith(".avro") &&
        !referenced.contains(st.getPath.getName))
      .map { st => fs.delete(st.getPath, false); 1 }.sum

    ExpireStats(dropped, mdDeleted, avroDeleted)
  }

  private def readAvro(spark: SparkSession, uri: String): Seq[GenericRecord] =
    readAvroConf(spark.sparkContext.hadoopConfiguration, uri)

  /** Conf-keyed Avro read — callable from EXECUTORS (the distributed
    * attach-map build ships manifests, not file lists).
    */
  private def readAvroConf(conf: org.apache.hadoop.conf.Configuration,
                           uri: String): Seq[GenericRecord] = {
    val p = new Path(uri) // scheme-aware: resolves the URI's own FS
    val in = p.getFileSystem(conf).open(p)
    val r = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try Iterator.continually(r).takeWhile(_ => r.hasNext).map(_.next()).toList
    finally r.close()
  }

  /** Raw partition values stringified (epoch-day ints for date
    * columns render as ISO dates), cast to the declared source type
    * after joining — shared by the per-file attach map (built on
    * EXECUTORS) and the delete-file partition scopes (driver).
    */
  private def renderVal(v: Any, tpe: String): String = v match {
    case null => null
    case i: java.lang.Integer if tpe == "date" =>
      java.time.LocalDate.ofEpochDay(i.longValue).toString
    case l: java.lang.Long if tpe == "date" =>
      java.time.LocalDate.ofEpochDay(l).toString
    case other => other.toString
  }

  /** Avro → plain JVM partition values (Utf8 → String, ByteBuffer →
    * bytes) so [[ChainFile]]s serialize cleanly across executors.
    */
  private def plainValue(v: Any): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      // respect arrayOffset (heap buffers can be offset views of a
      // shared backing array) and handle direct/read-only buffers,
      // which have no accessible array at all
      if (b.hasArray)
        java.util.Arrays.copyOfRange(b.array,
          b.arrayOffset + b.position, b.arrayOffset + b.limit)
      else { val d = new Array[Byte](b.remaining); b.duplicate.get(d); d }
    case other => other
  }

  /** Walk ONE manifest's live entries into data/delete files — the
    * shared per-manifest logic of [[resolveChainAt]] (driver) and
    * [[readChain]]'s DISTRIBUTED attach-map build (executors): status
    * ≠ 2 filtering, sequence inheritance from the list entry,
    * partition-record presence semantics, content routing. Pure
    * function of (conf, manifest, partFields) — one logic, two call
    * sites, no drift.
    */
  private def walkManifest(conf: org.apache.hadoop.conf.Configuration,
                           mp: String, isDelete: Boolean, mSeq: Long,
                           partFields: Seq[PartField]): (Seq[ChainFile], Seq[DeleteFile]) = {
    def has(r: GenericRecord, f: String): Boolean = r.getSchema.getField(f) != null
    def longOf(r: GenericRecord, f: String): Option[Long] =
      if (has(r, f)) Option(r.get(f)).map(_.asInstanceOf[Long]) else None
    val live = readAvroConf(conf, mp)
      .filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
    val dataFiles = scala.collection.mutable.ArrayBuffer.empty[ChainFile]
    val delFiles = scala.collection.mutable.ArrayBuffer.empty[DeleteFile]
    live.foreach { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      val seq = longOf(e, "sequence_number").getOrElse(mSeq)
      val content = if (has(d, "content")) d.get("content").asInstanceOf[Int] else 0
      // fields PRESENT in the record's own schema — presence is what
      // distinguishes a value that happens to be NULL (a null-valued
      // partition, still binding) from a field the record simply
      // doesn't carry
      def presentPart: Map[String, Any] =
        Option(d.get("partition")).map(_.asInstanceOf[GenericRecord]).map { p =>
          partFields.collect { case f
            if p.getSchema.getField(f.name) != null => f.name -> plainValue(p.get(f.name))
          }.toMap
        }.getOrElse(Map.empty)
      content match {
        case 0 =>
          require(!isDelete, s"data file ${d.get("file_path")} in a delete manifest")
          val present = presentPart
          val pv = partFields.map { f =>
            f.name -> present.getOrElse(f.name, null)
          }.toMap
          dataFiles += ChainFile(d.get("file_path").toString, pv, seq)
        case 1 | 2 => // position / equality delete file (v2 MOR)
          val eqIds =
            if (has(d, "equality_ids")) Option(d.get("equality_ids"))
              .map(_.asInstanceOf[java.util.List[Integer]].asScala.toSeq.map(_.toInt))
              .getOrElse(Seq.empty)
            else Seq.empty
          require(content == 1 || eqIds.nonEmpty,
            s"equality delete file ${d.get("file_path")} lists no equality_ids")
          // a partition record CARRYING any of the table's partition
          // fields scopes the delete to that partition — even when the
          // bound value is null (a null-valued partition is still one
          // partition); an empty/absent record means an unpartitioned
          // spec = global
          val scoped = Some(presentPart).filter(_.nonEmpty)
          delFiles += DeleteFile(d.get("file_path").toString, content, eqIds, seq,
            scoped)
        case other => sys.error(
          s"unknown content=$other for file ${d.get("file_path")} — " +
            "not readable as data or row-level deletes")
      }
    }
    (dataFiles.toSeq, delFiles.toSeq)
  }

  // ---- generic chain resolution (read side) ----

  /** One data file surfaced by the metadata walk: URI, identity
    * partition values keyed by partition-field NAME (raw Avro values —
    * Utf8/Int/Long/…), and the file's DATA SEQUENCE NUMBER (v2 MOR
    * ordering; inherited from the manifest when the entry leaves it
    * null, 0 for v1 chains that predate sequencing).
    */
  private[graft] final case class ChainFile(uri: String,
                                            partValues: Map[String, Any],
                                            seq: Long = 0L)

  /** One row-level DELETE file (v2 merge-on-read): `content` 1 =
    * position deletes (`file_path`+`pos` rows), 2 = equality deletes
    * (rows of the columns named by `equalityIds`). `seq` orders it
    * against data files: position deletes apply to data sequence ≤
    * theirs, equality deletes to data sequence STRICTLY below theirs
    * (the spec's same-snapshot visibility rules). `partValues` is the
    * delete file's own identity-partition record when its manifest
    * carried one (Some = the delete is PARTITION-SCOPED and applies
    * only to matching data rows; None = a global/unpartitioned delete).
    */
  private[graft] final case class DeleteFile(uri: String, content: Int,
                                             equalityIds: Seq[Int], seq: Long,
                                             partValues: Option[Map[String, Any]] = None)

  /** One default-spec partition field: its name, source column id,
    * and TRANSFORM (`identity`, `day`, `hour`, `month`, `year`,
    * `bucket[N]`, `truncate[W]`, `void` — the spec's set). Only
    * identity fields attach as data columns; the others are
    * metadata-derived values whose source column stays in the data
    * files.
    */
  private[graft] final case class PartField(name: String, srcId: Int,
                                            transform: String)

  /** A resolved Iceberg FileSystem-table chain. `schemaFields` are the
    * CURRENT schema's primitive columns (id, name, iceberg type name);
    * `partFields` the default spec's partition fields. `files` is the
    * current snapshot's active data-file set across every manifest in
    * its manifest list; `deleteFiles` the snapshot's live row-level
    * delete files (empty for v1 / COW tables).
    */
  /** One manifest of the current snapshot: path, delete-manifest
    * flag, list-level sequence number — control-plane cardinality,
    * what the distributed attach-map build ships to executors.
    */
  private[graft] final case class ManifestRef(path: String, isDelete: Boolean,
                                              seq: Long, specId: Int = 0)

  private[graft] final case class Chain(md: IcebergJson.V,
                                        formatVersion: Int,
                                        schemaFields: Seq[Field],
                                        partFields: Seq[PartField],
                                        snapshotId: Option[Long],
                                        listRecords: Seq[GenericRecord],
                                        files: Seq[ChainFile],
                                        deleteFiles: Seq[DeleteFile] = Seq.empty,
                                        manifests: Seq[ManifestRef] = Seq.empty,
                                        specsById: Map[Int, Seq[PartField]] = Map.empty,
                                        // true = the snapshot's data-file count exceeded
                                        // [[explicitFileCap]], so `files` was NOT driver-
                                        // materialized (it is empty); readers must plan
                                        // from `manifests` (distributed walk) + a root scan
                                        overCap: Boolean = false,
                                        // partition-value prune for over-cap chains: applied
                                        // INSIDE the distributed attach-map walk (the driver
                                        // file list the explicit prune filters doesn't
                                        // exist). Only the FUNCTION ships to executors —
                                        // never the Chain (md/Avro records don't serialize)
                                        prune: Option[Map[String, Any] => Boolean] = None,
                                        // over-cap pruned reads whose KEPT set fit back under
                                        // [[prunedKeptFileCap]]: the scan opens exactly these
                                        // paths (real I/O pruning) instead of the location
                                        // root — the attach join still restricts and attaches.
                                        // Some(empty) = the prune kept nothing (typed empty)
                                        scanPaths: Option[Seq[String]] = None)

  /** Driver-crossing bound for a resolved chain's DATA-FILE list: at
    * or under the cap [[resolveChainAt]] materializes the file list
    * (explicit-path reads open only the snapshot's files — real I/O
    * pruning) and [[readChain]] may BROADCAST the per-file attach map
    * (further bounded by [[LogSync.seqBroadcastRowCap]]). Past it the
    * chain is resolved `overCap`: the driver holds only manifest REFS,
    * the attach map builds distributed (one task per manifest), the
    * scan is a recursive root scan restricted to the snapshot by an
    * inner join against that map, and the join shuffles. Same
    * discipline as `graft.lake.deletesSinceExplicitPathCap` — a
    * million-file snapshot must never become a driver vararg. Specs
    * force 0 to prove both plans agree row-for-row.
    */
  private[graft] def explicitFileCap(spark: SparkSession): Long =
    spark.conf.getOption("graft.chain.explicitFileCap")
      .map(_.toLong).getOrElse(100000L)

  /** Driver-crossing bound for the KEPT file set of an over-cap
    * PRUNED read ([[readExternalPruned]]): when the post-prune set is
    * at or under it, the kept URIs (strings only — never ChainFiles
    * or Avro) collect back to the driver and the scan opens exactly
    * those files — the I/O pruning a selective partition predicate
    * deserves even on a chain too large to materialize whole. Past
    * it the read stays the row-correct location scan. Defaults to
    * [[explicitFileCap]] — the same crossing the explicit-path plan
    * is allowed everywhere else. Chunking the kept list into unioned
    * sub-scans would NOT relax this bound: every chunk's paths sit in
    * the same driver-resident plan simultaneously, so a total cap is
    * the honest control.
    */
  private[graft] def prunedKeptFileCap(spark: SparkSession): Long =
    spark.conf.getOption("graft.chain.prunedKeptFileCap")
      .map(_.toLong).getOrElse(explicitFileCap(spark))

  private def readText(spark: SparkSession, p: Path): String = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Resolve `metaDir`'s current table state by the spec walk a
    * FileSystem-catalog client performs: `version-hint.text` (falling
    * back to the highest `v<N>.metadata.json` when the hint is absent
    * — some writers skip it) → metadata.json → the snapshots entry
    * whose id equals `current-snapshot-id` (ANCHORED — never "the
    * first manifest-list string in the file", which reads the wrong
    * snapshot as soon as history is retained) → manifest-list Avro →
    * manifest Avro → data files.
    *
    * Accepts format versions 1 and 2, schemas under either the v2
    * `schemas`/`current-schema-id` form or the v1 single `schema`,
    * specs under `partition-specs`/`default-spec-id` or the v1 flat
    * `partition-spec`, v1 snapshots with inline `manifests` in place
    * of a manifest list, and v2 ROW-LEVEL DELETES (position and
    * equality delete files surface on [[Chain.deleteFiles]] with their
    * sequence numbers — [[readChain]] applies them). Partition
    * transforms: identity, day, hour, month, year, bucket[N],
    * truncate[W], void are all accepted (only identity fields attach
    * as columns; the others keep their source column in the data
    * files). REJECTS LOUDLY (require) what this reader cannot honor
    * silently: unknown transforms, nested column types, and unknown
    * file content kinds — each would otherwise surface wrong rows,
    * not an error.
    */
  private[graft] def resolveChain(spark: SparkSession, metaDir: Path,
                                  asOf: Option[SnapshotRef] = None,
                                  fileCap: Option[Long] = None): Chain = {
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hintPath = new Path(metaDir, "version-hint.text")
    val mdPath =
      if (fs.exists(hintPath))
        new Path(metaDir, s"v${readText(spark, hintPath).trim.toInt}.metadata.json")
      else {
        require(fs.exists(metaDir), s"no Iceberg metadata dir at $metaDir")
        val Re = "v([0-9]+)\\.metadata\\.json".r
        val vs = fs.listStatus(metaDir).flatMap(_.getPath.getName match {
          case Re(v) => Some(v.toInt); case _ => None
        })
        require(vs.nonEmpty, s"no version-hint.text and no v<N>.metadata.json under $metaDir")
        new Path(metaDir, s"v${vs.max}.metadata.json")
      }
    resolveChainAt(spark, mdPath, asOf, fileCap)
  }

  /** TIME-TRAVEL anchor: pick a snapshot by exact id, or the latest
    * snapshot committed at-or-before a timestamp (the spec's
    * `snapshot-log` semantics).
    */
  sealed trait SnapshotRef
  final case class BySnapshotId(id: Long) extends SnapshotRef
  final case class AsOfTimestampMs(ms: Long) extends SnapshotRef

  /** [[resolveChain]] anchored at one specific `metadata.json` — the
    * entry point a CATALOG hands a client (REST `loadTable` returns a
    * metadata-location, not a directory to walk). `asOf` re-anchors
    * the walk on a RETAINED HISTORIC snapshot instead of the current
    * one (Iceberg time travel): same manifest chain mechanics, just a
    * different `snapshots` entry — a control-plane choice, no data
    * cost. An anchored snapshot reads under the SCHEMA-ID it was
    * committed with (Iceberg's snapshot-schema semantics: a later
    * drop/rename does not rewrite history — a pre-drop anchor still
    * surfaces the column); snapshots that predate schema stamping
    * carry no `schema-id` and fall back to the current schema.
    */
  private[graft] def resolveChainAt(spark: SparkSession, mdPath: Path,
                                    asOf: Option[SnapshotRef] = None,
                                    fileCap: Option[Long] = None): Chain = {
    val md = IcebergJson.parse(readText(spark, mdPath))
    val fv = md("format-version").int
    require(fv == 1 || fv == 2, s"unsupported Iceberg format-version $fv")

    // partition specs: ALL of them (spec evolution leaves one per
    // layout generation; each manifest binds its own via the list
    // record's partition_spec_id), plus the default for callers that
    // only need the current layout
    def parseFields(fields: Vector[IcebergJson.V]): Seq[PartField] =
      fields.map { f =>
        val tr = f("transform").str
        // the spec's transform set: identity attaches as a column; the
        // time/bucket/truncate families keep their source column in the
        // data files and carry derived values in the manifests — all
        // readable; anything unknown would surface wrong rows, so it
        // rejects loudly
        require(tr == "identity" || tr == "day" || tr == "hour" ||
          tr == "month" || tr == "year" || tr == "void" ||
          tr.matches("bucket\\[[0-9]+\\]") || tr.matches("truncate\\[[0-9]+\\]"),
          s"unknown partition transform '$tr' on field ${f("name").str}")
        PartField(f("name").str, f("source-id").int, tr)
      }
    val (specsById, defaultSpecId) = md.opt("partition-specs") match {
      case Some(specs) =>
        val want = md("default-spec-id").long.toInt
        val byId = specs.arr.map { s =>
          s("spec-id").long.toInt -> parseFields(s("fields").arr)
        }.toMap
        require(byId.contains(want),
          s"default-spec-id $want has no partition-specs entry")
        (byId, want)
      case None =>
        (Map(0 -> parseFields(
          md.opt("partition-spec").map(_.arr).getOrElse(Vector.empty))), 0)
    }
    val partFields = specsById(defaultSpecId)

    // current snapshot, ANCHORED by id (none / -1 = legal empty
    // table); `asOf` re-anchors on retained history
    val snapId: Option[Long] = asOf match {
      case None => md.opt("current-snapshot-id").map(_.long).filter(_ != -1L)
      case Some(BySnapshotId(id)) =>
        require(md("snapshots").arr.exists(_("snapshot-id").long == id),
          s"snapshot $id is not retained in ${mdPath.getName}")
        Some(id)
      case Some(AsOfTimestampMs(ms)) =>
        // snapshot-log is the spec's commit-time record — chronological,
        // so the LAST matching entry is the latest commit (robust to
        // same-millisecond commits, where maxBy-on-timestamp would tie
        // on the older one). Writers that omit the log fall back to
        // the snapshots array, whose ORDER the spec does not constrain
        // — there, pick the max timestamp (file order breaks ties).
        val (entries, chronological) =
          md.opt("snapshot-log").map(_.arr).filter(_.nonEmpty) match {
            case Some(log) => (log, true)
            case None => (md("snapshots").arr, false)
          }
        val at = entries.filter(_("timestamp-ms").long <= ms)
        require(at.nonEmpty,
          s"no snapshot at or before timestamp $ms in ${mdPath.getName}")
        val pick =
          if (chronological) at.last
          else at.zipWithIndex.maxBy { case (s, i) => (s("timestamp-ms").long, i) }._1
        Some(pick("snapshot-id").long)
    }
    // schema resolution: v2 schemas[...] or the v1 bare schema. A
    // TIME-TRAVEL anchor reads under the schema-id ITS SNAPSHOT was
    // committed with (Iceberg's snapshot-schema semantics — a column
    // dropped later is still visible at a pre-drop anchor, a rename
    // hasn't happened yet); current reads use current-schema-id.
    // Snapshots predating schema stamping (no `schema-id` field) fall
    // back to the current schema — the documented legacy behavior.
    val schemaObj = md.opt("schemas") match {
      case Some(ss) =>
        val want: Long =
          (if (asOf.isDefined)
            snapId.flatMap(id => md("snapshots").arr
              .find(_("snapshot-id").long == id)
              .flatMap(_.opt("schema-id").map(_.long)))
          else None).getOrElse(md("current-schema-id").long)
        ss.arr.find(_("schema-id").long == want)
          .getOrElse(sys.error(s"schema-id $want has no schemas entry"))
      case None => md("schema")
    }
    val schemaFields = schemaObj("fields").arr.map { f =>
      val tpe = f("type") match {
        case IcebergJson.JStr(s) => s
        case other => sys.error(
          s"nested column type ${IcebergJson.render(other)} unsupported by this reader " +
            s"(column ${f("name").str})")
      }
      Field(f("id").int, f("name").str, tpe)
    }
    val (listRecords, files, deletes, manifestRefs, resolvedOverCap) = snapId match {
      case None => (Seq.empty[GenericRecord], Seq.empty[ChainFile],
        Seq.empty[DeleteFile], Seq.empty[ManifestRef], false)
      case Some(id) =>
        val snap = md("snapshots").arr.find(_("snapshot-id").long == id)
          .getOrElse(sys.error(s"current-snapshot-id $id has no snapshots entry"))
        def has(r: GenericRecord, f: String): Boolean = r.getSchema.getField(f) != null
        def longOf(r: GenericRecord, f: String): Option[Long] =
          if (has(r, f)) Option(r.get(f)).map(_.asInstanceOf[Long]) else None
        // v2: one manifest-list file; v1 may inline manifest paths.
        // Each manifest carries (path, isDelete, its list-level
        // sequence number) — entries with a null sequence inherit it.
        val (records, manifests) = snap.opt("manifest-list") match {
          case Some(lst) =>
            val rs = readAvro(spark, lst.str)
            (rs, rs.map { r =>
              val isDelete = has(r, "content") && r.get("content").asInstanceOf[Int] == 1
              // the record's own spec id (field 502) — a carried
              // manifest from an earlier layout generation resolves
              // ITS spec, not the default
              val specId =
                if (has(r, "partition_spec_id"))
                  Option(r.get("partition_spec_id")).map(_.asInstanceOf[Int])
                    .getOrElse(defaultSpecId)
                else defaultSpecId
              (r.get("manifest_path").toString, isDelete,
                longOf(r, "sequence_number").getOrElse(0L), specId)
            })
          case None =>
            (Seq.empty[GenericRecord],
              snap("manifests").arr.map(p => (p.str, false, 0L, defaultSpecId)))
        }
        val refs = manifests.map { case (mp, isDelete, mSeq, specId) =>
          ManifestRef(mp, isDelete, mSeq, specId)
        }
        // DELETE manifests always walk on the driver (registry-sized:
        // bounded by retraction commits, not data volume). DATA
        // manifests walk only until [[explicitFileCap]] — one file
        // past it the accumulated list drops and the chain resolves
        // `overCap` with manifest refs only, so a million-file
        // snapshot never materializes a driver-side path array.
        val cap = fileCap.getOrElse(explicitFileCap(spark))
        val walked = scala.collection.mutable.ArrayBuffer.empty[(Seq[ChainFile], Seq[DeleteFile])]
        var over = false
        refs.foreach { r =>
          if (r.isDelete || !over) {
            val w = walkManifest(spark.sparkContext.hadoopConfiguration,
              r.path, r.isDelete, r.seq,
              specsById.getOrElse(r.specId, partFields))
            walked += w
            if (!over && walked.iterator.map(_._1.length.toLong).sum > cap) {
              over = true
              walked.mapInPlace { case (_, d) => (Seq.empty, d) }
            }
          }
        }
        (records, walked.toSeq.flatMap(_._1), walked.toSeq.flatMap(_._2),
          refs, over)
    }
    Chain(md, fv, schemaFields, partFields, snapId, listRecords, files, deletes,
      manifestRefs, specsById, overCap = resolvedOverCap)
  }

  /** Iceberg primitive type name → Spark type (the read-side inverse
    * of [[icebergType]]; unknown names surface loudly rather than as a
    * silently-wrong column).
    */
  private def sparkTypeFor(t: String): DataType = t match {
    case "string" | "uuid" => StringType
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case "date" => DateType
    case "binary" => BinaryType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(',').map(_.trim.toInt)
      DecimalType(p, s)
    case other => sys.error(s"unsupported Iceberg column type '$other'")
  }

  /** Read the table back THROUGH the exported metadata — an
    * independent read path that trusts only the Iceberg chain
    * ([[resolveChain]]'s walk), exactly what a FileSystem-catalog
    * Iceberg client does. The resolved file set feeds the same
    * root-scan + broadcast-semi-join shape as [[LogSync.table]]
    * (partition columns and pruning intact); metadata resolution is
    * control-plane (a few Avro files + one JSON).
    *
    * This is the certification path for [[export]]: a contract query
    * over it hash-matching the DuckDB oracle proves the exported
    * metadata describes exactly the registered table.
    */
  def readTable(spark: SparkSession, root: String,
                asOf: Option[SnapshotRef] = None): DataFrame = {
    import spark.implicits._
    val metaDir = new Path(s"$root/_iceberg/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(metaDir, "version-hint.text")),
      s"no Iceberg export under $root — run export first")
    val chain = resolveChain(spark, metaDir, asOf)
    // EQUALITY or partition-SCOPED deletes (an external engine rewrote
    // this root) need the full MOR reader; graft's own exports write
    // only GLOBAL POSITION deletes, which the lake-scan fast path
    // applies directly — keeping the schema STABLE (partition columns
    // keep their discovery-inferred types whether or not the table
    // carries deletes; readChain would flip them to the declared
    // string form). Sequence numbers need no check here: position
    // deletes bind by exact file path, and paths are never reused.
    if (chain.deleteFiles.exists(d => d.content != 1 || d.partValues.nonEmpty))
      return readChain(spark, chain)
    // a MULTI-SPEC table (layout generations differ) cannot take the
    // lake-scan fast path — for ANY snapshot: Spark's directory
    // discovery rejects a root mixing partition depths (and the root
    // stays mixed even when the requested snapshot predates the
    // flip), and a partition column of one generation is a data
    // column of another. The manifest-driven [[readChain]] is the
    // reader for that shape. The registry-level check (metadata
    // partition-specs minus the reserved delete spec) is the right
    // signal — per-snapshot file sets can look single-spec while the
    // directory tree is not.
    if (chain.specsById.keys.count(_ != DeleteSpecId) > 1)
      return readChain(spark, chain)
    // an overCap chain has no driver-resident file list to feed the
    // keep-set below — readChain plans it distributed end to end
    if (chain.overCap)
      return readChain(spark, chain)
    // SNAPSHOT-SCHEMA fidelity: an anchored read whose snapshot was
    // committed under a DIFFERENT schema-id than the current one must
    // serve its own schema. The fast path reads under the lake's
    // CURRENT request schema, and the name-subset check below cannot
    // see a promote-only (same names, narrower type) or add-only
    // (pre-add anchor must NOT show the column) divergence — so those
    // anchors take the chain reader, which resolved the snapshot's
    // schema-id. An anchor whose schema-id EQUALS the current one
    // (e.g. the latest snapshot by id) keeps the fast path — same
    // schema, and the fast path's discovery-typed partition columns.
    if (asOf.isDefined) {
      val curSid = chain.md.opt("current-schema-id").map(_.long)
      val snapSid = chain.snapshotId.flatMap(id =>
        chain.md.opt("snapshots").flatMap(_.arr
          .find(_("snapshot-id").long == id)
          .flatMap(_.opt("schema-id").map(_.long))))
      if (snapSid.exists(s => curSid.exists(_ != s)))
        return readChain(spark, chain)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val delEntries = chain.deleteFiles.map { d =>
      val p = new Path(d.uri)
      LogSync.DeleteEntry(d.uri, 0L, p.getFileSystem(conf).getFileStatus(p).getLen)
    }
    val files = chain.files.map(_.uri)
    val fast = LogSync.tableForPaths(spark, root,
      files.toDF("path").select(LogSync.normPath(col("path")).as("__registered_path")),
      deletes = delEntries)
    // the lake-scan's sampled schema can MISS a late-added column on
    // a schema-evolved chain (inference reads one footer; older files
    // predate the column) — the metadata's declared schema is
    // authoritative, so when any declared data column is absent the
    // read routes through [[readChain]], which completes the scan
    // schema from the declaration and fills it per-file
    val dataNames = chain.schemaFields.map(_.name).toSet --
      chain.partFields.map(_.name).toSet
    if (dataNames.subsetOf(fast.columns.toSet)) fast
    else readChain(spark, chain)
  }

  /** ONE-SCAN phase-split read for append-only evolved chains (the
    * `lake_evolve` shape): the CURRENT snapshot's rows with a boolean
    * `__graft_pre` marking rows whose file ALSO belongs to the `asOf`
    * snapshot — so a current-vs-historic comparison aggregates one scan
    * instead of reading the shared file generation twice. Sound
    * exactly when history is append-only (the anchor's file set is a
    * subset of the current one — checked, not assumed) and the fast
    * lake-scan path applies; any other shape (row-level deletes,
    * multi-spec layouts, over-cap chains, a data column the lake scan
    * cannot serve) returns None and the caller keeps the two-read
    * plan. Values are identical to the anchored read: a rename is
    * metadata-only (the lake scan's alias fold serves old files under
    * the current name) and a type promotion only widens.
    */
  private[graft] def readTablePreTagged(spark: SparkSession, root: String,
                                        asOf: SnapshotRef): Option[DataFrame] = {
    import spark.implicits._
    val metaDir = new Path(s"$root/_iceberg/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(metaDir, "version-hint.text"))) return None
    val cur = resolveChain(spark, metaDir, None)
    if (cur.deleteFiles.nonEmpty || cur.overCap) return None
    if (cur.specsById.keys.count(_ != DeleteSpecId) > 1) return None
    val pre = resolveChain(spark, metaDir, Some(asOf))
    if (pre.deleteFiles.nonEmpty || pre.overCap) return None
    val curPaths = cur.files.map(f => LogSync.normPathStr(fileUri(f.uri)))
    val prePaths = pre.files.map(f => LogSync.normPathStr(fileUri(f.uri)))
    if (!prePaths.toSet.subsetOf(curPaths.toSet)) return None
    val fast = LogSync.tableForPaths(spark, root,
      curPaths.toDF("path").select(col("path").as("__registered_path")),
      keepSrc = true)
    // the lake scan must serve every declared data column (the same
    // eligibility readTable's fast path checks) — otherwise the chain
    // reader with its completed schema is required and we fall back
    val dataNames = cur.schemaFields.map(_.name).toSet --
      cur.partFields.map(_.name).toSet
    if (!dataNames.subsetOf(fast.columns.toSet)) return None
    // `__src` is the scanned file's URI-form identity
    val preDf = prePaths.map(LogSync.registeredKeyStr).toDF("__pre_path")
    val sizedPre =
      if (pre.files.length <= LogSync.seqBroadcastRowCap(spark)) broadcast(preDf)
      else preDf
    Some(fast.join(sizedPre, col("__src") === col("__pre_path"), "left")
      .withColumn("__graft_pre", col("__pre_path").isNotNull)
      .drop("__src", "__pre_path"))
  }

  /** Snapshot history of an exported/external table, oldest first:
    * (snapshot-id, timestamp-ms, parent-snapshot-id) — the
    * control-plane listing a caller uses to pick a [[SnapshotRef]]
    * for time travel.
    */
  def snapshots(spark: SparkSession, location: String): Seq[(Long, Long, Option[Long])] = {
    val metaDir = new Path(s"$location/metadata")
    val dir = if (metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(metaDir)) metaDir else new Path(s"$location/_iceberg/metadata")
    resolveChain(spark, dir).md("snapshots").arr.map { s =>
      (s("snapshot-id").long, s("timestamp-ms").long,
        s.opt("parent-snapshot-id").map(_.long))
    }.sortBy(_._2)
  }

  /** Read an EXTERNALLY-written Iceberg FileSystem table (standard
    * layout: `<location>/metadata/` + data files wherever the
    * manifests point) — the missing read half of the reference's
    * catalog flow (scripts/sync-logs.sh:1-86 registers tables that
    * ClickHouse then reads; graft can now consume such a table
    * directly). Trusts ONLY the spec chain via [[resolveChain]]:
    * v1/v2 metadata, the spec's partition-transform set
    * (identity/day/hour/month/year/bucket/truncate/void), v2
    * row-level deletes applied merge-on-read ([[readChain]]) —
    * anything else rejects loudly there.
    *
    * Identity partition VALUES come from the manifests (authoritative
    * per the spec — external writers need not use hive-style dirs), and
    * are attached by a file→values broadcast join on
    * `input_file_name()`: control-plane cardinality (one row per data
    * file) against a full-parallelism scan, so the shape survives any
    * table size. Values are cast to the source column's declared type;
    * `date` values written as epoch-day ints are honored. Columns read
    * by NAME through `schema.name-mapping.default`: a field id listing
    * several names (a renamed column) reads every name and coalesces —
    * pre-rename files resolve; a physically-narrower column under a
    * widened declared type up-casts (the readers' promotion rules).
    */
  def readExternal(spark: SparkSession, location: String,
                   asOf: Option[SnapshotRef] = None): DataFrame =
    readChain(spark, resolveChain(spark, new Path(s"$location/metadata"), asOf))

  /** [[readExternal]] with MANIFEST-LEVEL PARTITION PRUNING: `keep`
    * sees each data file's partition values (field name → raw
    * manifest value: identity values in source form, `day` fields as
    * epoch-day ints, `bucket` as the bucket index, …) and files
    * answering false never reach the scan — the pruning a pushed-down
    * partition predicate buys, exposed directly. At 100 TB a
    * day-ranged query over a `day(ts)` table scans only its days'
    * files; everything else (identity attach, row-level deletes)
    * applies unchanged. The predicate must be conservative — keep on
    * unknown — like any partition filter.
    */
  def readExternalPruned(spark: SparkSession, location: String,
                         keep: Map[String, Any] => Boolean,
                         asOf: Option[SnapshotRef] = None): DataFrame = {
    val chain = resolveChain(spark, new Path(s"$location/metadata"), asOf)
    // under the cap the prune filters the driver-resident file list
    // (the scan then OPENS only the kept files — maximal I/O pruning);
    // an over-cap chain has no such list, so the predicate ships INTO
    // the distributed attach-map walk — pruned files never survive
    // the inner join, and the same raw manifest values feed `keep` on
    // both paths. When the KEPT set fits back under
    // [[prunedKeptFileCap]] (the common selective-predicate case: a
    // day slice of a million-file lake), a limited distributed
    // collect brings back the kept URIs and the scan opens only them
    // — otherwise the read stays the location scan: row-correct, with
    // unpruned scan I/O, the documented trade past both caps
    if (chain.overCap) {
      val pruned = chain.copy(prune = Some(keep))
      // collect cap+1: coming back short of the limit proves the
      // collected set is COMPLETE, not a truncation
      val limit = math.min(prunedKeptFileCap(spark), Int.MaxValue - 1L).toInt + 1
      val kept = keptUrisUpTo(spark, chain, keep, limit)
      if (kept.length < limit)
        readChain(spark, pruned.copy(scanPaths = Some(kept)))
      else readChain(spark, pruned)
    }
    else readChain(spark,
      chain.copy(files = chain.files.filter(f => keep(f.partValues))))
  }

  /** Up to `limit` kept data-file URIs of an over-cap chain, walked
    * DISTRIBUTED (one task per data manifest — the same walk the
    * attach map performs) and collected through a LIMIT: the driver
    * crossing is bounded by construction, and only URI STRINGS cross
    * — never ChainFiles or Avro records. A result shorter than
    * `limit` is the complete kept set.
    */
  private def keptUrisUpTo(spark: SparkSession, chain: Chain,
                           keep: Map[String, Any] => Boolean,
                           limit: Int): Seq[String] = {
    val dataManifests = chain.manifests.filterNot(_.isDelete)
    if (dataManifests.isEmpty)
      chain.files.filter(f => keep(f.partValues)).map(f => fileUri(f.uri)).take(limit)
    else {
      val scm = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val walkSpecs = dataManifests.map(m =>
        (m.path, m.isDelete, m.seq,
          chain.specsById.getOrElse(m.specId, chain.partFields)))
      import spark.implicits._
      spark.sparkContext.parallelize(walkSpecs, walkSpecs.length)
        .flatMap { case (mp, isDel, mSeq, pf) =>
          walkManifest(scm.value, mp, isDel, mSeq, pf)._1.iterator
            .filter(f => keep(f.partValues)).map(f => fileUri(f.uri)).toSeq
        }.toDF("uri").limit(limit).as[String].collect().toSeq
    }
  }

  /** Materialize a resolved [[Chain]] as a DataFrame: scan the data
    * files, attach manifest-sourced identity partition values, and
    * APPLY v2 row-level deletes (merge-on-read):
    *
    *  - every per-file attribute (partition values, data sequence
    *    number) joins in through ONE broadcast map of one row per data
    *    file — control-plane cardinality against a full-parallelism
    *    scan;
    *  - position deletes anti-join on (`_metadata.file_path`,
    *    `_metadata.row_index`) — the row ordinal comes from the scan
    *    itself, no window or zipWithIndex pass — for data files with
    *    sequence ≤ the delete file's;
    *  - equality deletes anti-join null-safely (`<=>`) on the columns
    *    their `equality_ids` name, for data rows with sequence
    *    STRICTLY below the delete file's (the spec rule that makes an
    *    upsert's own insert survive its delete);
    *  - delete-file scans are sized by the DELETED population, and the
    *    anti-joins shuffle only when the delete side does — at 100 TB
    *    the common case (deletes ≪ data) broadcasts under AQE.
    */
  private[graft] def readChain(spark: SparkSession, chain: Chain): DataFrame = {
    val typeOf = chain.schemaFields.map(f => f.id -> f.tpe).toMap
    val nameOf = chain.schemaFields.map(f => f.id -> f.name).toMap
    // partition fields across EVERY spec generation (name-deduped,
    // default spec first): a spec-evolved chain's old manifests bind
    // fields the current default no longer carries. `multiSpec` marks
    // a chain whose files span layout generations — there a partition
    // column may live in dirs for one generation and in the data for
    // another, so its value is COALESCED (manifest value when the
    // file's spec binds it, the data column otherwise).
    val partFieldsAll = (chain.partFields ++
      chain.specsById.toSeq.sortBy(_._1).flatMap(_._2))
      .foldLeft(Seq.empty[PartField]) { (acc, f) =>
        if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    // name-set per layout generation: from the driver-resident files
    // when they were materialized, from the manifests' own specs on an
    // overCap chain (same key — partValues carries exactly the spec's
    // field names)
    val multiSpec =
      if (chain.overCap)
        chain.manifests.filterNot(_.isDelete)
          .map(m => chain.specsById.getOrElse(m.specId, chain.partFields)
            .map(_.name).toSet).distinct.size > 1
      else chain.files.map(_.partValues.keySet).distinct.size > 1
    // only IDENTITY fields can attach as data columns; transformed
    // fields (day/hour/bucket/...) carry derived values whose source
    // column stays in the data files
    val identityNames = partFieldsAll.filter(_.transform == "identity").map(_.name)
    val partByName = partFieldsAll.map(f => f.name -> f).toMap
    if ((chain.files.isEmpty && !chain.overCap) ||
      chain.scanPaths.exists(_.isEmpty)) {
      // legal empty table (or an over-cap prune that kept nothing):
      // an empty frame with the declared schema
      val struct = StructType(chain.schemaFields.map(f =>
        StructField(f.name, sparkTypeFor(f.tpe), nullable = true)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], struct)
    }
    lazy val srcType = partFieldsAll.map { f =>
      f.name -> typeOf.getOrElse(f.srcId,
        sys.error(s"partition field ${f.name}: source-id ${f.srcId} not in current schema"))
    }.toMap
    def srcCol(f: PartField): org.apache.spark.sql.Column =
      col(nameOf.getOrElse(f.srcId,
        sys.error(s"partition field ${f.name}: source-id ${f.srcId} not in current schema")))
    // DATA-side expression of a partition field's transform — what a
    // partition-scoped delete compares against (iceberg.apache.org/spec
    // transform semantics); bucket evaluates the spec's own
    // murmur3_x86_32 layouts via [[IcebergBucket]] (Spark's hash() is
    // a different seed/layout and would bucket every row wrong)
    def transformCol(f: PartField): org.apache.spark.sql.Column = f.transform match {
      case "identity" => srcCol(f).cast(sparkTypeFor(srcType(f.name)))
      case "day"      => to_date(srcCol(f))
      case "hour"     => floor(unix_micros(srcCol(f)) / lit(3600000000L)).cast("int")
      case "month"    => ((year(srcCol(f)) - 1970) * 12 + month(srcCol(f)) - 1).cast("int")
      case "year"     => (year(srcCol(f)) - 1970).cast("int")
      case "void"     => lit(null)
      case t if t.startsWith("truncate") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        if (srcType(f.name) == "string") substring(srcCol(f), 1, w)
        else srcCol(f) - pmod(srcCol(f), lit(w.toLong))
      case t if t.startsWith("bucket") =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        graft.functions.VectorFunctions.register(spark)
        call_function("graft_iceberg_bucket", srcCol(f), lit(n))
      case t => sys.error(
        s"cannot evaluate transform '$t' on the data side — a delete scoped " +
          s"on partition field ${f.name} is not honorable by this reader")
    }
    // typed literal for a manifest partition value under the field's
    // transform (day values are epoch-day ints; the time family ints)
    def transformLit(f: PartField, v: Any): org.apache.spark.sql.Column = f.transform match {
      case "identity" =>
        lit(renderVal(v, srcType(f.name))).cast(sparkTypeFor(srcType(f.name)))
      case "day" =>
        lit(renderVal(v, "date")).cast(DateType)
      case "hour" | "month" | "year" =>
        lit(if (v == null) null else v.toString).cast(IntegerType)
      case t if t.startsWith("bucket") =>
        lit(if (v == null) null else v.toString).cast(IntegerType)
      case "void" => lit(null)
      case t if t.startsWith("truncate") =>
        if (srcType(f.name) == "string") lit(if (v == null) null else v.toString)
        else lit(if (v == null) null else v.toString).cast(sparkTypeFor(srcType(f.name)))
      case t => sys.error(s"no literal form for transform '$t'")
    }
    // the read schema is sampled-then-completed: Spark's inference
    // samples footers, and on a schema-EVOLVED chain the sample can
    // miss a late-added column entirely (a snapshot's older files
    // predate it) — the METADATA's declared schema is authoritative,
    // so any declared data column absent from the inferred schema is
    // appended with its declared type; the parquet reader then fills
    // it per-file (null where a file predates the column, values
    // where it exists). Identity-partition fields stay OUT of the
    // completion: hive-style writers strip them from the files and
    // the manifest attach below is their authoritative source — a
    // null completion here would mask it.
    // UNDER the file cap the scan opens exactly the snapshot's files
    // (explicit paths — real I/O pruning, and the vararg is bounded by
    // [[explicitFileCap]]). An overCap chain never materialized that
    // list: it scans the table LOCATION recursively instead, and the
    // inner join against the distributed attach map below restricts
    // the scan to the snapshot's files — historic/orphaned parquet
    // under the root contributes no rows (and any stray columns its
    // footers add to the sample are dropped by the declared-schema
    // projection at the end).
    val chainPaths: Seq[String] =
      if (chain.overCap) Seq.empty else chain.files.map(f => fileUri(f.uri))
    lazy val scanRoot: String = chain.md.opt("location").map(_.str).getOrElse(
      sys.error("chain exceeds graft.chain.explicitFileCap and its metadata " +
        "declares no table location for a root scan — raise the cap or add " +
        "a location"))
    // a multi-spec chain's files sit at CONFLICTING directory depths —
    // Spark's partition inference rejects the mix outright, and its
    // dir-derived values are redundant here anyway (the manifests are
    // the authoritative identity-value source), so inference is
    // disabled and every identity column attaches from the map. The
    // overCap root scan is recursive for the same reason: dir-derived
    // values must not race the manifest attach.
    def reader() =
      if (multiSpec || chain.overCap) spark.read.option("recursiveFileLookup", "true")
      else spark.read
    // the root scan must not trip over the table's own metadata tree
    // (`<location>/metadata` holds json/avro — NOT underscore-hidden
    // in the standard layout): only parquet is data here, and non-data
    // parquet (delete files) contributes no rows past the attach join
    def scanParquet(r: org.apache.spark.sql.DataFrameReader) =
      chain.scanPaths match {
        // over-cap PRUNED read whose kept set fit under
        // [[prunedKeptFileCap]]: open exactly the kept files — the
        // I/O pruning the under-cap explicit-path plan gets
        case Some(ps) => r.parquet(ps: _*)
        case None if chain.overCap =>
          r.option("pathGlobFilter", "*.parquet").parquet(fileUri(scanRoot))
        case None => r.parquet(chainPaths: _*)
      }
    // the sampled scan's inferred schema is a pure function of the
    // (immutable) file set — cache it per path-set so repeat chain
    // reads skip the footer-inference job (the LogSync scan-schema
    // discipline); the overCap root scan keeps plain inference (its
    // file set is not driver-resident to key on)
    val sampled = chain.scanPaths.orElse(
        if (chain.overCap) None else Some(chainPaths)) match {
      case Some(ps) =>
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(ps.sorted.mkString("|").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val sch = sampledSchemaCache.computeIfAbsent(key,
          _ => scanParquet(reader()).schema)
        scanParquet(reader().schema(sch))
      case None => scanParquet(reader())
    }
    val declaredMissing = chain.schemaFields.filter(f =>
      !sampled.schema.fieldNames.contains(f.name) && !identityNames.contains(f.name))
    // RENAAMED columns resolve through the spec's name-mapping: a field
    // id listing several names means pre-rename files physically carry
    // an old one — request every name (old ones at the current,
    // possibly WIDENED type; the parquet reader up-casts int→long /
    // float→double per the spec's promotion rules) and fold them into
    // the current name below.
    val aliasesByName: Map[String, Seq[String]] = {
      val byId = (for {
        props <- chain.md.opt("properties")
        nm <- props.opt("schema.name-mapping.default")
      } yield IcebergJson.parse(nm.str).arr.flatMap { e =>
        for {
          id <- e.opt("field-id").map(_.int)
          names <- e.opt("names").map(_.arr.map(_.str))
        } yield id -> names
      }.toMap).getOrElse(Map.empty[Int, Vector[String]])
      chain.schemaFields.flatMap { f =>
        byId.get(f.id).map(ns => f.name -> ns.filterNot(_ == f.name).toSeq)
      }.filter(_._2.nonEmpty).toMap
    }
    // the common (un-evolved) chain reuses the sampled relation — one
    // file-index build; only an evolved chain pays the re-read with
    // the completed schema. The evolved re-read also pins every
    // DECLARED data column to its declared type (a promotion means the
    // sample may have hit a narrow pre-promotion footer).
    // multi-spec: an identity column stripped into dirs by one
    // generation but carried as DATA by another can be absent from
    // the sampled schema (inference hit a stripped file) — complete
    // it at its OWN physical type, probed from one footer of a file
    // whose spec does NOT bind it (the declared string type could not
    // read an int32 data column); no such file → no data side at all,
    // the manifest attach alone serves it
    val identityCompletion: Seq[StructField] =
      if (!multiSpec) Seq.empty
      else identityNames.filterNot(sampled.schema.fieldNames.contains)
        .flatMap { n =>
          // a file whose spec does NOT bind n as a partition field —
          // its footer carries n as DATA at the authoritative physical
          // type. An overCap chain probes via ONE manifest whose spec
          // lacks the field (a single manifest's entry list is walked
          // on the driver — bounded by manifest size, not table size).
          val probeFile: Option[String] =
            if (chain.overCap)
              chain.manifests.filterNot(_.isDelete)
                .find(m => !chain.specsById.getOrElse(m.specId, chain.partFields)
                  .exists(_.name == n))
                .flatMap(m => walkManifest(spark.sparkContext.hadoopConfiguration,
                  m.path, m.isDelete, m.seq,
                  chain.specsById.getOrElse(m.specId, chain.partFields))
                  ._1.headOption.map(_.uri))
            else chain.files.find(f => !f.partValues.contains(n)).map(_.uri)
          probeFile.flatMap { u =>
            spark.read.parquet(fileUri(u)).schema.fields.find(_.name == n)
          }
        }
    val raw =
      if (declaredMissing.isEmpty && aliasesByName.isEmpty &&
        identityCompletion.isEmpty) sampled
      else {
        val declaredType = chain.schemaFields
          .map(f => f.name -> sparkTypeFor(f.tpe)).toMap
        val aliasNames = aliasesByName.values.flatten.toSet
        val base = sampled.schema.fields.toSeq
          .filterNot(f => aliasNames.contains(f.name))
          .map(f =>
            if (identityNames.contains(f.name)) f // physical type rules
            else declaredType.get(f.name)
              .map(t => StructField(f.name, t, nullable = true)).getOrElse(f))
        val missing = declaredMissing.map(f =>
          StructField(f.name, sparkTypeFor(f.tpe), nullable = true))
        val aliases = aliasesByName.toSeq.sortBy(_._1).flatMap { case (cur, olds) =>
          olds.map(o => StructField(o, declaredType(cur), nullable = true))
        }
        scanParquet(reader().schema(StructType(base ++ missing ++
          identityCompletion ++ aliases)))
      }
    // alias fold (runs before the delete anti-joins — an equality
    // delete binds the CURRENT name and must match pre-rename rows);
    // `_metadata`-derived columns must be materialized before calling
    def foldAliases(df: DataFrame): DataFrame =
      aliasesByName.toSeq.sortBy(_._1).foldLeft(df) { case (acc, (cur, olds)) =>
        val present = olds.filter(acc.columns.contains)
        if (present.isEmpty || !acc.columns.contains(cur)) acc
        else acc.withColumn(cur, coalesce((cur +: present).map(col): _*))
          .drop(present: _*)
      }
    // identity-partition columns present IN the data files (many
    // writers keep them) need no attach; hive-style writers strip
    // them, and for those the manifest values are authoritative. On a
    // MULTI-SPEC chain a column can be both (dirs in one generation,
    // data in another), so every identity column attaches and the
    // final value coalesces manifest-over-data per file.
    val attach =
      if (multiSpec) identityNames
      else identityNames.filterNot(raw.columns.contains)
    val hasDeletes = chain.deleteFiles.nonEmpty
    val posDeletes = chain.deleteFiles.filter(_.content == 1)
    // a partition-scoped delete constrains data rows on the partition
    // columns — which therefore must be readable on the data side
    chain.deleteFiles.flatMap(_.partValues).flatMap(_.keys).distinct.foreach { p =>
      val f = partByName.getOrElse(p, sys.error(s"delete scoped on unknown partition field '$p'"))
      if (f.transform == "identity")
        require(raw.columns.contains(p) || attach.contains(p),
          s"partition-scoped delete needs partition column '$p' on the scan")
      else {
        // derived scope: the SOURCE column must be scannable, and the
        // transform evaluable (rejects loudly for bucket)
        require(raw.columns.contains(nameOf.getOrElse(f.srcId, "?")),
          s"partition-scoped delete on '$p' needs source column on the scan")
        transformCol(f)
        ()
      }
    }

    // an overCap chain ALWAYS joins the attach map: the inner join is
    // what restricts the root scan to the snapshot's files
    val attached: DataFrame =
      if (attach.isEmpty && !hasDeletes && !chain.overCap) foldAliases(raw) else {
      // file → (partition values, sequence) map, one row per data
      // file, built DISTRIBUTED: executors re-walk the snapshot's
      // data manifests (one task per manifest — the same walkManifest
      // logic the resolve used, each under ITS OWN spec) instead of
      // shipping a driver-materialized O(files) array through one
      // partition. At million-file scale the map job parallelizes
      // over manifests and the driver holds only the manifest refs.
      // On a multi-spec chain the attach columns travel under
      // `__gp_<name>` so they can coalesce against a same-named data
      // column; a single-spec chain keeps the bare names (and today's
      // exact output shape).
      def mapColName(n: String): String = if (multiSpec) s"__gp_$n" else n
      val mapSchema = StructType((StructField("__graft_file", StringType) +:
        attach.map(n => StructField(mapColName(n), StringType, nullable = true))) :+
        StructField("__graft_seq", LongType, nullable = false))
      val dataManifests = chain.manifests.filterNot(_.isDelete)
      val mapDf =
        if (dataManifests.isEmpty)
          // chains resolved without manifest refs (v1 inline
          // `manifests` with no files, or tests) fall back to the
          // driver rows — files is small whenever refs are absent
          spark.createDataFrame(
            spark.sparkContext.parallelize(chain.files.map { f =>
              org.apache.spark.sql.Row.fromSeq(
                (normUri(f.uri) +: attach.map(n =>
                  f.partValues.get(n).map(v => renderVal(v, srcType(n))).orNull
                )) :+ f.seq)
            }, math.max(1, chain.files.length / 10000)), mapSchema)
        else {
          val scm = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          // (manifest, its spec's fields) pairs — PartField is a plain
          // case class, so the per-spec walk ships cleanly
          val walkSpecs = dataManifests.map(m =>
            (m.path, m.isDelete, m.seq,
              chain.specsById.getOrElse(m.specId, chain.partFields)))
          val attachTypes = attach.map(n => n -> srcType(n))
          // over-cap partition prune (readExternalPruned): applied to
          // each walked entry's RAW manifest values — the same inputs
          // the driver-side prune sees. Pruned files never enter the
          // map, so the inner join drops their rows. When the kept
          // set fit under [[prunedKeptFileCap]] the scan already
          // opens only kept files (scanPaths); past BOTH caps the
          // location scan reads unpruned bytes — row-correct, the
          // documented trade. Capture ONLY the function: the Chain
          // (json + Avro records) must never enter the closure.
          val pruneF = chain.prune
          val rows = spark.sparkContext
            .parallelize(walkSpecs, walkSpecs.length)
            .flatMap { case (mp, isDel, mSeq, pf) =>
              walkManifest(scm.value, mp, isDel, mSeq, pf)._1.iterator
                .filter(f => pruneF.forall(_(f.partValues)))
                .map { f =>
                  org.apache.spark.sql.Row.fromSeq(
                    (normUri(f.uri) +: attachTypes.map { case (n, t) =>
                      f.partValues.get(n).map(v => renderVal(v, t)).orNull
                    }) :+ f.seq)
                }.toSeq
            }
          spark.createDataFrame(rows, mapSchema)
        }
      // the over-cap plan scans the table LOCATION with a *.parquet
      // glob — a manifest pointing OUTSIDE the location (legal
      // Iceberg: "data files wherever the manifests point") or at a
      // file WITHOUT the extension (also spec-legal; the glob exists
      // to skip the metadata tree) would have its rows silently
      // missing from the join. Refuse loudly instead. PRICED: this is
      // an EAGER job (the refusal must land at planning, before any
      // caller acts on the frame) and a second distributed manifest
      // walk (the join re-walks lazily) — parallel control-plane work,
      // dwarfed by the over-cap data scan it guards; only over-cap
      // reads pay it.
      // (kept-path scans skip this guard: explicit paths reach files
      // outside the location and without the extension — the glob
      // whose blind spots the guard exists for is not in the plan)
      if (chain.overCap && chain.scanPaths.isEmpty) {
        val rootPrefix = normUri(scanRoot).stripSuffix("/") + "/"
        val unreachable = mapDf
          .filter(!col("__graft_file").startsWith(rootPrefix) ||
            !col("__graft_file").endsWith(".parquet"))
          .limit(1).count()
        require(unreachable == 0,
          s"over-cap chain holds data files the location-root scan cannot " +
            s"reach (outside $rootPrefix, or without the .parquet extension " +
            "the scan's metadata-skipping glob requires) — raise " +
            "graft.chain.explicitFileCap to force the explicit-path read")
      }
      // _metadata.file_path, not input_file_name(): deterministic, so
      // it doesn't pin the projection against later pushdown, and it
      // stays consistent with the row_index used by position deletes
      val withFile = raw
        .withColumn("__graft_file", LogSync.normPath(col("_metadata.file_path")))
      val withPos =
        if (posDeletes.nonEmpty)
          withFile.withColumn("__graft_pos", col("_metadata.row_index"))
        else withFile
      // size-guarded like every other file-cardinality join (the map
      // is one row per DATA FILE — at 10⁶ files an unconditional
      // broadcast pins hundreds of MB on every executor): broadcast
      // only when the file count is known (not overCap) and under
      // [[LogSync.seqBroadcastRowCap]]; shuffle otherwise — AQE still
      // broadcasts at runtime if the built map turns out tiny
      val sizedMap =
        if (!chain.overCap &&
          chain.files.length <= LogSync.seqBroadcastRowCap(spark))
          broadcast(mapDf)
        else mapDf
      val joined = foldAliases(withPos).join(sizedMap, Seq("__graft_file"))
      if (!multiSpec)
        attach.foldLeft(joined) { (df, n) =>
          df.withColumn(n, col(n).cast(sparkTypeFor(srcType(n))))
        }
      else
        // per file: the manifest value when the file's spec binds the
        // column (its data column, if any, is stripped or equal), the
        // data column otherwise — both under the DECLARED type
        attach.foldLeft(joined) { (df, n) =>
          val t = sparkTypeFor(srcType(n))
          val gp = col(s"__gp_$n").cast(t)
          val v = if (df.columns.contains(n)) coalesce(gp, col(n).cast(t)) else gp
          df.withColumn(n, v).drop(s"__gp_$n")
        }
    }

    val afterDeletes: DataFrame = if (!hasDeletes) attached else {
      // equality deletes, grouped by their equality-column set: one
      // union of delete rows per set, one null-safe anti-join each.
      // A PARTITION-SCOPED delete file (its manifest entry carries a
      // partition record) applies only to data rows of that partition
      // — the scope travels as typed literal columns on the delete
      // rows, so one union still serves mixed global/scoped files.
      val eqApplied = chain.deleteFiles.filter(_.content == 2)
        .groupBy(_.equalityIds).foldLeft(attached) { case (df, (ids, dels)) =>
          val cols = ids.map(id => nameOf.getOrElse(id,
            sys.error(s"equality delete names field-id $id, not in current schema")))
          cols.foreach(c => require(df.columns.contains(c),
            s"equality delete column '$c' absent from the data scan"))
          val scopeCols = dels.flatMap(_.partValues).flatMap(_.keys).distinct
          val delRows = dels.map { d =>
            // per field: does THIS file's partition record bind it
            // (possibly to null), and to what value — a file
            // constrains only the fields its record carries
            val scope = scopeCols.flatMap { p =>
              val f = partByName(p)
              val bound = d.partValues.exists(_.contains(p))
              Seq(
                lit(bound).as(s"__gdps_$p"),
                (if (bound) transformLit(f, d.partValues.flatMap(_.get(p)).orNull)
                 else transformLit(f, null)).as(s"__gdp_$p"))
            }
            readDeleteFile(spark, d.uri)
              .select(cols.map(c => col(c).as(s"__gd_$c")) ++ scope ++
                Seq(lit(d.seq).as("__graft_dseq")): _*)
          }.reduce(_ unionByName _)
          // identity scopes compare the (attached) partition column;
          // transformed scopes compare the transform of the source
          // column — both null-safely, a null-valued partition is
          // still one partition
          val scopeCond = scopeCols
            .map { p =>
              val f = partByName(p)
              val dataSide =
                if (f.transform == "identity") col(p) else transformCol(f)
              !col(s"__gdps_$p") || (dataSide <=> col(s"__gdp_$p"))
            }
            .foldLeft(lit(true))(_ && _)
          val cond = cols.map(c => col(c) <=> col(s"__gd_$c"))
            .reduce(_ && _) && col("__graft_seq") < col("__graft_dseq") && scopeCond
          df.join(delRows, cond, "left_anti")
        }
      // position deletes: delete rows carry the TARGET data file path
      // and row ordinal; their own sequence joins in from a per-file
      // literal (delete-file count is control-plane)
      if (posDeletes.isEmpty) eqApplied else {
        val posRows = posDeletes.map { d =>
          readDeleteFile(spark, d.uri)
            .select(LogSync.normPath(col("file_path")).as("__gd_file"),
              col("pos").cast(LongType).as("__gd_pos"),
              lit(d.seq).as("__graft_dseq"))
        }.reduce(_ unionByName _)
        eqApplied.join(posRows,
          col("__graft_file") === col("__gd_file") &&
            col("__graft_pos") === col("__gd_pos") &&
            col("__graft_seq") <= col("__graft_dseq"),
          "left_anti")
      }
    }
    val out = afterDeletes.drop("__graft_file", "__graft_pos", "__graft_seq")
    // the root scan of an overCap chain may have sampled footers that
    // are not part of the snapshot (historic files awaiting vacuum) —
    // their rows were dropped by the attach inner join, but any STRAY
    // COLUMNS they contributed to the inferred schema must not
    // surface: project to the declared schema (identity fields are in
    // it — their field name is the source column's)
    if (chain.overCap)
      out.select(chain.schemaFields.map(f => col(f.name)): _*)
    else out
  }

  private def normUri(p: String): String =
    p.replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")
}
