package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Apache Iceberg v2 TABLE-FORMAT read path, implemented from the
  * PUBLIC spec (iceberg.apache.org/spec) with no connector jar —
  * upgrading the round-8 "lakehouse connectors: jar-bound, not
  * actionable" row to a real in-repo capability (reference:
  * fe/fe-core/src/main/java/org/apache/doris/datasource/iceberg/ —
  * Doris's FE walks the same metadata chain).
  *
  * The chain, exactly as the spec lays it out:
  *   version-hint.text → metadata/vN.metadata.json (snapshot log,
  *   schema, partition spec) → the snapshot's manifest-list (Avro
  *   container) → manifests (Avro) → data/delete files (parquet).
  *
  * Spark-first mapping of each stage:
  *  - metadata/manifests are METADATA-sized and read on the driver —
  *    the FE role, same contract as the routine-load offset maps;
  *  - partition pruning happens on the manifest rows BEFORE any data
  *    file is opened (identity transform; each data_file carries its
  *    partition tuple), so a filtered read lists only matching files —
  *    at 100 TB this is the difference between opening every parquet
  *    footer and opening one partition's;
  *  - POSITION DELETES (v2 row-level deletes: parquet files of
  *    (file_path, pos)) are applied as a distributed LEFT ANTI join
  *    against Spark's native `_metadata.file_path` /
  *    `_metadata.row_index` columns — no per-file loops, no UDFs, and
  *    the delete side shuffles like any join side when it is large.
  *
  * Honest scope (documented, not hidden): identity partition
  * transforms only; position deletes AND equality deletes (content=2,
  * r9 — applied under the spec's strict sequence-visibility rule, so
  * later re-inserts of a deleted key survive: the merge-on-write
  * upsert contract); the WRITER here is test scaffolding that stages a spec-shaped
  * table layout from the driver so the reader has something real to
  * walk — a production writer (commit protocol, optimistic metadata
  * swap) remains connector territory. Correctness is gated
  * non-circularly: the `src_iceberg_*` oracles recompute the expected
  * CONTENT from the base lineitem table by predicate, so the reader
  * must get snapshot selection + pruning + delete application right
  * to match.
  */
object IcebergLite {

  // ---------------------------------------------------------------- schemas
  private[ops] val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private[ops] val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
      |    {"name":"part_value","type":["null","string"],"default":null}]}},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"lower_bounds","type":["null",{"type":"map","values":"long"}],"default":null},
      |  {"name":"upper_bounds","type":["null",{"type":"map","values":"long"}],"default":null}]}}]}""".stripMargin)

  /** One live file of a snapshot, as planned from the metadata chain
    * (the FE's "file scan task"). content: 0 = data, 1 = position
    * deletes. `lower`/`upper` are the per-column value bounds the
    * manifest carries (spec: lower_bounds/upper_bounds — simplified
    * here to name-keyed longs for integral columns; the real spec keys
    * by field id over serialized binary). */
  final case class FileTask(path: String, content: Int,
                            partValue: Option[String], recordCount: Long,
                            sequenceNumber: Long,
                            lower: Map[String, Long] = Map.empty,
                            upper: Map[String, Long] = Map.empty)

  // ---------------------------------------------------------------- reader
  private def mapper = new ObjectMapper()

  private def currentMetadataPath(tableDir: String): String = {
    val hint = java.nio.file.Paths.get(tableDir, "metadata", "version-hint.text")
    // spec "File System Tables": the hint is a hint, not the truth — a
    // concurrent writer may have published vN+1 before its hint update
    // landed, so probe upward from the hinted version for newer
    // metadata files and read the highest one that exists.
    var v = java.nio.file.Files.readString(hint).trim.toInt
    while (java.nio.file.Files.exists(
        java.nio.file.Paths.get(tableDir, "metadata", s"v${v + 1}.metadata.json")))
      v += 1
    s"$tableDir/metadata/v$v.metadata.json"
  }

  /** Plan the live files of a snapshot (default: current) — the
    * metadata walk, driver-side by design. `partFilter` prunes on the
    * identity partition value BEFORE any data file is listed.
    * `partPruneBy` is the PARTITION-EVOLUTION-aware prune (spec:
    * "Partition Evolution"): (columnName, valuePredicate) — a file is
    * pruned only when its manifest's partition SPEC actually partitions
    * by that column; files written under a different spec are
    * conservatively KEPT, because the spec says you cannot skip a file
    * by a field it was never partitioned on. */
  def planFiles(tableDir: String, snapshotId: Option[Long] = None,
                partFilter: Option[String => Boolean] = None,
                statsFilter: Option[(Map[String, Long], Map[String, Long]) => Boolean] = None,
                partPruneBy: Option[(String, String => Boolean)] = None,
                transformPrune: Option[(String, String, String => Boolean)] = None)
      : Seq[FileTask] = {
    val meta = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val wanted = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong)
    val snaps = meta.get("snapshots")
    val snap = (0 until snaps.size).map(snaps.get)
      .find(_.get("snapshot-id").asLong == wanted)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $wanted not in ${meta.get("snapshots")}"))
    // spec-id → the spec's (source column, transform) FIELDS in order —
    // multi-field specs (e.g. days(ts), bucket(16, id)) store their
    // partition tuple as \\u0001-joined components in part_value
    val specCols: Map[Int, Seq[(String, String)]] = Option(meta.get("partition-specs"))
      .map { specs =>
        (0 until specs.size).map(specs.get).flatMap { s =>
          val fields = s.get("fields")
          if (fields == null || fields.size == 0) None
          else Some(s.get("spec-id").asInt ->
            (0 until fields.size).map(fields.get).map(f =>
              (f.get("name").asText,
                Option(f.get("transform")).map(_.asText)
                  .getOrElse("identity"))))
        }.toMap
      }.getOrElse(Map.empty)
    // the stored component for (column, transform) under a file's spec:
    // None = the spec has no such field (conservatively kept)
    def fieldComponent(specId: Int, colName: String, transform: String,
                       partVal: Option[String]): Option[String] =
      specCols.get(specId).flatMap { fs =>
        val i = fs.indexOf((colName, transform))
        if (i < 0) None
        else partVal.flatMap(v => v.split('\u0001').lift(i))
      }
    val manifestList = snap.get("manifest-list").asText
    readAvro(manifestList).flatMap { mf =>
      val manifestPath = mf.get("manifest_path").toString
      val specId = mf.get("partition_spec_id").asInstanceOf[Int]
      readAvro(manifestPath).flatMap { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status == 2) None // DELETED entries drop out of the snapshot
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val part = Option(df.get("partition").asInstanceOf[GenericRecord]
            .get("part_value")).map(_.toString)
          val content = df.get("content").asInstanceOf[Int]
          def bounds(field: String): Map[String, Long] =
            Option(df.get(field)).map {
              _.asInstanceOf[java.util.Map[AnyRef, java.lang.Long]]
                .entrySet().iterator()
            }.map { it =>
              val b = Map.newBuilder[String, Long]
              while (it.hasNext) { val kv = it.next(); b += kv.getKey.toString -> kv.getValue.longValue }
              b.result()
            }.getOrElse(Map.empty)
          val lower = bounds("lower_bounds")
          val upper = bounds("upper_bounds")
          // delete files (position OR equality) are partition-less and
          // survive both prunes; data files prune on partition value
          // and on column bounds (a file with no recorded bounds is
          // conservatively kept — stats pruning must never be lossy)
          val keep = content != 0 ||
            (partFilter.forall(f => part.forall(f)) &&
              statsFilter.forall(f => lower.isEmpty && upper.isEmpty || f(lower, upper)) &&
              partPruneBy.forall { case (colName, f) =>
                // identity-only: a transformed partition value is not
                // the source value this predicate speaks about; a file
                // whose spec lacks the field is conservatively kept
                fieldComponent(specId, colName, "identity", part).forall(f)
              } &&
              transformPrune.forall { case (colName, transform, f) =>
                // prune on the STORED (transformed) component, only for
                // files whose spec carries exactly (column, transform)
                fieldComponent(specId, colName, transform, part).forall(f)
              })
          if (!keep) None
          else Some(FileTask(df.get("file_path").toString, content, part,
            df.get("record_count").asInstanceOf[Long],
            e.get("sequence_number").asInstanceOf[Long], lower, upper))
        }
      }
    }
  }

  /** Read a snapshot as a DataFrame: pruned data files, position
    * deletes applied via `_metadata.file_path` / `_metadata.row_index`
    * anti-join (both sides normalized to scheme-less absolute paths),
    * then EQUALITY deletes (content=2) under the spec's strict
    * sequence-visibility rule — an equality delete at sequence S
    * removes matching rows only from data files with sequence < S, so
    * a key re-inserted in a LATER snapshot survives (the merge-on-write
    * upsert contract). Each delete file's equality columns are its own
    * parquet schema, read from its footer on the driver; all files with
    * one column set apply in ONE scan and ONE anti-join, each row
    * carrying its file's sequence number as `__dseq`. Data-file and
    * delete-file sequence numbers ride metadata-sized literal maps
    * keyed by [[LakeFiles.key]]. */
  def readSnapshot(spark: SparkSession, tableDir: String,
                   snapshotId: Option[Long] = None,
                   partFilter: Option[String => Boolean] = None,
                   statsFilter: Option[(Map[String, Long], Map[String, Long]) => Boolean] = None,
                   mergeSchema: Boolean = false,
                   partPruneBy: Option[(String, String => Boolean)] = None,
                   transformPrune: Option[(String, String, String => Boolean)] = None,
                   keepPositions: Boolean = false,
                   pathFilter: Option[String => Boolean] = None)
      : DataFrame = {
    val tasks = planFiles(tableDir, snapshotId, partFilter, statsFilter,
      partPruneBy, transformPrune)
    // pathFilter restricts the DATA files only (delete files still
    // apply): the CDC feed reads "the live rows of the files a
    // snapshot removed" through it
    val dataTasks = tasks.filter(_.content == 0)
      .filter(t => pathFilter.forall(f =>
        f(t.path.replaceAll("^file:+", ""))))
    val posDeletePaths = tasks.filter(_.content == 1).map(_.path)
    val eqDeleteTasks = tasks.filter(_.content == 2)
    require(dataTasks.nonEmpty, s"snapshot has no data files in $tableDir")
    // ADD-COLUMN evolution read (field-id resolution simplified to
    // by-name — the identity mapping our writer produces): a DECLARED
    // schema (metadata `schemas` + current-schema-id) plans the scan
    // explicitly and null-fills pre-evolution files natively — no
    // footer sweep; mergeSchema stays as the fixture-table fallback
    // RENAME COLUMN evolution: data (and delete) files are written with
    // each field's stable WRITE name; the scan plans write names and
    // aliases to the current logical names immediately — the name-mapping
    // read (spec `schema.name-mapping.default`), no data movement.
    // Version-scoped: a time-travel read plans the schema the TARGET
    // snapshot was committed under (schema-id stamp), so travel across
    // a retype reads the old type instead of failing on the new one
    val declared = declaredFields(tableDir, snapshotId)
    val writeToLogical: Map[String, String] =
      declared.map(_.map { case (l, w, _) => w -> l }.toMap).getOrElse(Map.empty)
    val scan = declared match {
      case Some(fs) =>
        val writeSchema = org.apache.spark.sql.types.StructType(fs.map {
          case (_, w, dt) =>
            org.apache.spark.sql.types.StructField(w, dt, nullable = true) })
        val raw = spark.read.schema(writeSchema).parquet(dataTasks.map(_.path): _*)
        if (fs.forall { case (l, w, _) => l == w }) raw
        else raw.select(fs.map { case (l, w, _) => col(w).as(l) }: _*)
      case None =>
        if (mergeSchema)
          spark.read.option("mergeSchema", "true").parquet(dataTasks.map(_.path): _*)
        else LakeFiles.scan(spark, dataTasks.map(_.path))
    }
    val data = scan
      .withColumn("__fp", LakeFiles.pathCol)
      .withColumn("__pos", col("_metadata.row_index"))
    val afterPos =
      if (posDeletePaths.isEmpty) data
      else {
        val dels = LakeFiles.scan(spark, posDeletePaths)
          .select(regexp_replace(col("file_path"), "^file:+", "").as("__fp"),
            col("pos").as("__pos"))
        data.join(dels, Seq("__fp", "__pos"), "left_anti")
      }
    val afterEq =
      if (eqDeleteTasks.isEmpty) afterPos
      else {
        val seqMap = typedLit(dataTasks.map(t =>
          LakeFiles.key(t.path) -> t.sequenceNumber).toMap)
        val withSeq = afterPos.withColumn("__seq", element_at(seqMap, col("__fp")))
        eqDeleteScans(spark, eqDeleteTasks, writeToLogical).foldLeft(withSeq) {
          case (cur, (eqCols, right)) =>
            val cond = eqCols.map(c => cur(c) <=> right(s"__d_$c"))
              .reduceLeft(_ && _) && cur("__seq") < right("__dseq")
            cur.join(right, cond, "left_anti")
        }.drop("__seq")
      }
    // keepPositions: DML callers (one-pass MERGE) keep the LIVE rows'
    // (__fp, __pos) identity so the join evaluates once and its claimed
    // positions feed the position-delete writer directly
    if (keepPositions) afterEq else afterEq.drop("__fp", "__pos")
  }

  /** Equality-delete files grouped by their equality-column set, one
    * scan per set: (logical column names, frame of `__d_<column>` plus
    * `__dseq`, the row's delete-file sequence number). The delete files
    * carry WRITE names, mapped to logical through `writeToLogical`.
    * Each set is learned from a footer read on the driver, so planning
    * runs no schema-inference job. */
  private def eqDeleteScans(spark: SparkSession, dels: Seq[FileTask],
                            writeToLogical: Map[String, String])
      : Seq[(Seq[String], DataFrame)] =
    dels.groupBy(d => LakeFiles.footerSchema(spark, d.path)).toSeq
      .sortBy(_._2.map(_.path).min).map { case (schema, group) =>
        val dseq = typedLit(group.map(t =>
          LakeFiles.key(t.path) -> t.sequenceNumber).toMap)
        val eqCols = schema.fieldNames.toSeq.map(c => writeToLogical.getOrElse(c, c))
        val right = LakeFiles.scan(spark, group.map(_.path), Some(schema))
          .select(schema.fieldNames.toSeq.zip(eqCols).map {
            case (w, l) => col(w).as(s"__d_$l") } :+
            element_at(dseq, LakeFiles.pathCol).as("__dseq"): _*)
        (eqCols, right)
      }

  /** The `snapshots` METADATA TABLE (the `SELECT * FROM tbl.snapshots`
    * surface): one row per snapshot from the metadata JSON. */
  def snapshotsTable(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val meta = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val snaps = meta.get("snapshots")
    val rows = (0 until snaps.size).map(snaps.get).map { s =>
      org.apache.spark.sql.Row(s.get("snapshot-id").asLong,
        s.get("sequence-number").asLong,
        s.get("timestamp-ms").asLong,
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)),
      StructType(Seq(StructField("snapshot_id", LongType),
        StructField("sequence_number", LongType),
        StructField("committed_at_ms", LongType),
        StructField("operation", StringType))))
  }

  /** The `files` METADATA TABLE: one row per live file of a snapshot
    * (content, path, partition, record_count, sequence_number). */
  def filesTable(spark: SparkSession, tableDir: String,
                 snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = planFiles(tableDir, snapshotId).map { t =>
      org.apache.spark.sql.Row(t.content, t.path, t.partValue.orNull,
        t.recordCount, t.sequenceNumber)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)),
      StructType(Seq(StructField("content", IntegerType),
        StructField("file_path", StringType),
        StructField("partition", StringType),
        StructField("record_count", LongType),
        StructField("sequence_number", LongType))))
  }

  /** Timestamp time travel (`FOR SYSTEM_TIME AS OF`): the latest
    * snapshot committed at or before `tsMillis`. */
  def readSnapshotAsOf(spark: SparkSession, tableDir: String,
                       tsMillis: Long): DataFrame = {
    val meta = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val snaps = meta.get("snapshots")
    val id = (0 until snaps.size).map(snaps.get)
      .filter(_.get("timestamp-ms").asLong <= tsMillis)
      .sortBy(_.get("timestamp-ms").asLong)
      .lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMillis"))
      .get("snapshot-id").asLong
    readSnapshot(spark, tableDir, Some(id))
  }

  /** Incremental APPEND scan between two snapshots (the spec's
    * incremental read, the table-stream/CDC analog): data files whose
    * sequence number lands in (from, to]. Deletes inside the window are
    * ignored by design — the incremental contract ships appended rows;
    * row-level retractions ride the delete files and belong to the
    * full-snapshot read (documented spec behavior). REPLACE snapshots
    * (rewrite_data_files) are STATE MOTION, not change — their files
    * are skipped, the same discipline as Paimon's COMPACT skip and
    * Delta's dataChange=false. The CDC-complete sibling (overwrites /
    * truncates as deletes+inserts) is [[readChangesCdc]]. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val fromSeq = snapshotSequence(tableDir, fromSnapshotId)
    val toSeq = snapshotSequence(tableDir, toSnapshotId)
    require(fromSeq < toSeq, s"from ($fromSeq) must precede to ($toSeq)")
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val snaps = meta.get("snapshots")
    val replaceSeqs: Set[Long] = (0 until snaps.size).map(snaps.get)
      .filter(s => Option(s.get("summary"))
        .flatMap(x => Option(x.get("operation")))
        .exists(_.asText == "replace"))
      .map(_.get("sequence-number").asLong).toSet
    val added = planFiles(tableDir, Some(toSnapshotId))
      .filter(t => t.content == 0 &&
        t.sequenceNumber > fromSeq && t.sequenceNumber <= toSeq &&
        !replaceSeqs.contains(t.sequenceNumber))
    require(added.nonEmpty, "no appended data files in the window")
    readDataPaths(spark, tableDir, added.map(_.path))
  }

  /** Raw rows of specific data files under the table's declared
    * (write-named) schema, output logical-named — the shared tail of
    * the incremental readers. */
  private def readDataPaths(spark: SparkSession, tableDir: String,
                            paths: Seq[String]): DataFrame =
    declaredFields(tableDir) match {
      case Some(fs) =>
        val raw = spark.read.schema(org.apache.spark.sql.types.StructType(
          fs.map { case (_, w, dt) =>
            org.apache.spark.sql.types.StructField(w, dt, nullable = true) }))
          .parquet(paths: _*)
        if (fs.forall { case (l, w, _) => l == w }) raw
        else raw.select(fs.map { case (l, w, _) => col(w).as(l) }: _*)
      case None => LakeFiles.scan(spark, paths)
    }

  /** CDC change rows over (from, to] — the Delta-discipline feed the
    * table streams consume, completing what [[readIncremental]]'s
    * append-only contract cannot ship: per snapshot (walked in
    * sequence order against its OWN predecessor),
    *  - `replace` snapshots (rewrite_data_files / OPTIMIZE) are STATE
    *    MOTION — skipped, like Delta's dataChange=false removes and
    *    Paimon's COMPACT skip;
    *  - every other operation diffs the live data-file sets: files
    *    ADDED ship their rows as `_CHANGE_TYPE='insert'` (the append /
    *    upsert discipline unchanged), files REMOVED (INSERT OVERWRITE's
    *    replace-all, TRUNCATE's delete) ship their predecessor-LIVE
    *    rows — position/equality deletes applied as of the predecessor
    *    snapshot via [[readSnapshot]]'s pathFilter — as
    *    `_CHANGE_TYPE='delete'`, exactly what a downstream replica
    *    needs to mirror an overwrite or truncate.
    * Row-level DML ships per-row deletes too: delete files ADDED by a
    * snapshot (position OR equality) mask predecessor-live rows of
    * data files that stay live — those rows ride as
    * `_CHANGE_TYPE='delete'`, so a DELETE window is non-empty and an
    * UPDATE ships delete+insert pairs (the Delta feed's DV-growth
    * discipline, DeltaLite.readChanges, on iceberg). All diffs are
    * manifest walks — metadata-sized at any table size. Reference:
    * table streams replay the full binlog delta
    * (nereids/rules/rewrite/NormalizeOlapTableStreamScan.java:18-56). */
  def readChangesCdc(spark: SparkSession, tableDir: String,
                     fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    def norm(p: String): String = p.replaceAll("^file:+", "")
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val snaps = meta.get("snapshots")
    val ordered = (0 until snaps.size).map(snaps.get)
      .map(s => (s.get("snapshot-id").asLong, s.get("sequence-number").asLong,
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText).getOrElse("append")))
      .sortBy(_._2)
    // from = -1: a stream created on a still-empty table consumes from
    // BEFORE the first snapshot (sequence numbers start at 1)
    val fromSeq =
      if (fromSnapshotId < 0) 0L else snapshotSequence(tableDir, fromSnapshotId)
    val toSeq = snapshotSequence(tableDir, toSnapshotId)
    require(fromSeq < toSeq, s"from ($fromSeq) must precede to ($toSeq)")
    // ONE manifest walk per snapshot, memoized: each id is consulted
    // twice (as `after`, then as the next snapshot's `before`) and for
    // both the data and the delete sets — four walks per snapshot
    // otherwise, on windows that can span many commits
    val planCache = scala.collection.mutable.Map.empty[Long, Seq[FileTask]]
    def plan(id: Long): Seq[FileTask] =
      planCache.getOrElseUpdate(id, planFiles(tableDir, Some(id)))
    def liveData(id: Long): Map[String, FileTask] =
      plan(id).filter(_.content == 0).map(t => norm(t.path) -> t).toMap
    def liveDeletes(id: Long): Map[String, FileTask] =
      plan(id).filter(_.content != 0).map(t => norm(t.path) -> t).toMap
    // the feed speaks the CURRENT schema: a predecessor-snapshot read
    // resolves ITS OWN (version-scoped, r15) schema, so a window
    // spanning a RENAME would otherwise ship delete rows under the old
    // name next to inserts under the new — align by the stable write
    // names before the union — and a window spanning a DROP COLUMN
    // would carry the dead column on its pre-drop frames; fields
    // absent from the current schema leave the feed (r16: ADD
    // null-fills, DROP drops — the same discipline the other three
    // formats' feeds apply)
    val curFields = declaredFields(tableDir)
    def alignToCurrent(df: DataFrame, atSnapshot: Long): DataFrame =
      (declaredFields(tableDir, Some(atSnapshot)), curFields) match {
        case (Some(prev), Some(cur)) =>
          val byWrite = cur.map { case (l, w, _) => w -> l }.toMap
          val keep = df.columns.toSeq.filter { c =>
            prev.find(_._1 == c).forall { case (_, w, _) => byWrite.contains(w) }
          }
          val ren = prev.collect {
            case (l, w, _) if byWrite.get(w).exists(_ != l) => l -> byWrite(w)
          }.toMap
          if (ren.isEmpty && keep.size == df.columns.length) df
          else df.select(keep.map(c => col(c).as(ren.getOrElse(c, c))): _*)
        case _ => df
      }
    val parts = ordered.filter(s => s._2 > fromSeq && s._2 <= toSeq)
      .flatMap { case (id, seq, op) =>
        if (op == "replace") Nil // state motion, not change
        else {
          val prevId = ordered.takeWhile(_._2 < seq).lastOption.map(_._1)
          val before = prevId.map(liveData).getOrElse(Map.empty)
          val after = liveData(id)
          val addedPaths = (after.keySet -- before.keySet).toSeq.sorted
          val removedPaths = before.keySet -- after.keySet
          val insDf =
            if (addedPaths.isEmpty) None
            else Some(readDataPaths(spark, tableDir,
              addedPaths.map(after(_).path))
              .withColumn("_CHANGE_TYPE", lit("insert")))
          val delDf =
            if (removedPaths.isEmpty) None
            else Some(alignToCurrent(readSnapshot(spark, tableDir,
              Some(prevId.get), pathFilter = Some(removedPaths.contains)),
              prevId.get)
              .withColumn("_CHANGE_TYPE", lit("delete")))
          // ROW-LEVEL DML: delete files ADDED by this snapshot mask
          // rows of data files that stay live — those rows ship as
          // per-row deletes (the Delta feed's DV-growth discipline,
          // DeltaLite.readChanges, applied to iceberg): position
          // deletes semi-join the predecessor's live (__fp, __pos),
          // equality deletes semi-join its key columns. Only STILL-LIVE
          // data files mask here (a removed file's rows already ship
          // via the set diff above — no double delete), and the
          // sequence rule is implied: every predecessor-live data file
          // is strictly older than this snapshot's delete files.
          val beforeDel = prevId.map(liveDeletes).getOrElse(Map.empty)
          val afterDel = liveDeletes(id)
          val newDelTasks = (afterDel.keySet -- beforeDel.keySet)
            .toSeq.sorted.map(afterDel(_))
          val stillLive = after.keySet intersect before.keySet
          val rowDelDf: Option[DataFrame] =
            if (newDelTasks.isEmpty || prevId.isEmpty || stillLive.isEmpty) None
            else {
              val base = readSnapshot(spark, tableDir, prevId,
                keepPositions = true, pathFilter = Some(stillLive.contains))
              val posPaths = newDelTasks.filter(_.content == 1).map(_.path)
              val posMask =
                if (posPaths.isEmpty) None
                else Some(base.join(LakeFiles.scan(spark, posPaths)
                  .select(regexp_replace(col("file_path"), "^file:+", "")
                    .as("__fp"), col("pos").as("__pos")),
                  Seq("__fp", "__pos"), "left_semi"))
              // the delete files carry WRITE names; `base` is named by
              // the PREDECESSOR's logical schema (version-scoped read),
              // so the join keys resolve through ITS mapping —
              // alignToCurrent renames the result at the end
              val writeToLogical = declaredFields(tableDir, prevId)
                .map(_.map { case (l, w, _) => w -> l }.toMap)
                .getOrElse(Map.empty[String, String])
              val eqMasks = eqDeleteScans(spark,
                  newDelTasks.filter(_.content == 2), writeToLogical).map {
                case (eqCols, right) =>
                  val cond = eqCols.map(c => base(c) <=> right(s"__d_$c"))
                    .reduceLeft(_ && _)
                  base.join(right, cond, "left_semi")
              }
              (posMask.toSeq ++ eqMasks).reduceOption(_ unionByName _)
                // a row masked by BOTH a position and an equality delete
                // in one snapshot is still ONE delete
                .map(m => alignToCurrent(m.dropDuplicates("__fp", "__pos")
                  .drop("__fp", "__pos"), prevId.get)
                  .withColumn("_CHANGE_TYPE", lit("delete")))
            }
          insDf.toSeq ++ delDf.toSeq ++ rowDelDf.toSeq
        }
      }
    // a window spanning an ADD COLUMN reads its early snapshots with
    // the narrower schema — missing columns null-fill instead of
    // failing the union (the consumer folds rows under the current
    // declared schema; a pre-evolution row genuinely had no value)
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      // a window of pure state motion: empty, feed-shaped
      val dataSchema = readSnapshot(spark, tableDir, Some(toSnapshotId)).schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(dataSchema.fields :+
          org.apache.spark.sql.types.StructField("_CHANGE_TYPE",
            org.apache.spark.sql.types.StringType, nullable = false)))
    }
  }

  private def snapshotSequence(tableDir: String, snapId: Long): Long = {
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val snaps = meta.get("snapshots")
    (0 until snaps.size).map(snaps.get)
      .find(_.get("snapshot-id").asLong == snapId)
      .map(_.get("sequence-number").asLong)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not in the log"))
  }

  /** Spark ↔ Iceberg primitive type names (spec "Schemas" — the subset
    * the writers produce). */
  private[ops] def icebergTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }

  private[ops] def sparkTypeOf(name: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val Dec = "decimal\\((\\d+),(\\d+)\\)".r
    name match {
      case "long" => LongType
      case "int" => IntegerType
      case "string" => StringType
      case "double" => DoubleType
      case "float" => FloatType
      case "boolean" => BooleanType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case Dec(p, s) => DecimalType(p.toInt, s.toInt)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }

  /** The current declared schema from a parsed metadata node (spec
    * `schemas` + `current-schema-id`); None when the writer never
    * declared one (pre-evolution tables read by parquet schema). */
  private[ops] def declaredSchemaOf(meta: com.fasterxml.jackson.databind.JsonNode)
      : Option[org.apache.spark.sql.types.StructType] =
    for {
      schemas <- Option(meta.get("schemas"))
      curId <- Option(meta.get("current-schema-id")).map(_.asInt)
      node <- (0 until schemas.size).map(schemas.get)
        .find(_.get("schema-id").asInt == curId)
    } yield org.apache.spark.sql.types.StructType(
      (0 until node.get("fields").size).map(node.get("fields").get).map { f =>
        org.apache.spark.sql.types.StructField(
          f.get("name").asText, sparkTypeOf(f.get("type").asText),
          nullable = true)
      })

  /** The current declared schema of the table at `tableDir`. */
  def declaredSchema(tableDir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    declaredSchemaOf(mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir)))))

  /** The current declared fields as (logical name, WRITE name, type).
    * The write name is the stable physical column name data files are
    * written with — RENAME COLUMN changes only the logical name, the
    * same contract as the spec's `schema.name-mapping.default` (field
    * ids resolved by name mapping for files without embedded ids).
    * Absent `write-name` = never renamed (write == logical). */
  private[ops] def declaredFieldsOf(meta: com.fasterxml.jackson.databind.JsonNode,
                                    schemaId: Option[Int] = None)
      : Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] =
    for {
      schemas <- Option(meta.get("schemas"))
      curId <- schemaId.orElse(
        Option(meta.get("current-schema-id")).map(_.asInt))
      node <- (0 until schemas.size).map(schemas.get)
        .find(_.get("schema-id").asInt == curId)
    } yield (0 until node.get("fields").size).map(node.get("fields").get).map { f =>
      val name = f.get("name").asText
      (name,
        Option(f.get("write-name")).map(_.asText).getOrElse(name),
        sparkTypeOf(f.get("type").asText))
    }

  /** The declared (logical, write, type) fields — VERSION-SCOPED when a
    * snapshot id is given: each snapshot carries the `schema-id` it was
    * committed under (spec: Snapshots carry schema-id), so time travel
    * across an ADD COLUMN or a retype reads the schema of ITS OWN
    * version, the Delta readVersion semantics. Snapshots written before
    * the stamp existed fall back to the current schema. */
  def declaredFields(tableDir: String, snapshotId: Option[Long] = None)
      : Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir))))
    val sid: Option[Int] = snapshotId.flatMap { id =>
      val snaps = meta.get("snapshots")
      (0 until snaps.size).map(snaps.get)
        .find(_.get("snapshot-id").asLong == id)
        .flatMap(s => Option(s.get("schema-id")).map(_.asInt))
    }
    declaredFieldsOf(meta, sid)
  }

  /** The metadata's current-snapshot-id — -1 for a CREATED-EMPTY table
    * (the spec's no-snapshot state). One JSON read, no manifest walk. */
  def currentSnapshotIdOf(tableDir: String): Long =
    mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(currentMetadataPath(tableDir))))
      .get("current-snapshot-id").asLong

  /** logical → write-name map of the CURRENT schema (identity entries
    * included); empty when no schema was ever declared. */
  def writeNames(tableDir: String): Map[String, String] =
    declaredFields(tableDir)
      .map(_.map { case (l, w, _) => l -> w }.toMap).getOrElse(Map.empty)

  /** Iceberg bucket[N] transform for BIGINT keys (spec Appendix B:
    * murmur3_x86_32 over the little-endian 8-byte value, seed 0, then
    * positive mod N; the published vector hash(34L) = 2017239379 is
    * pinned in IcebergLiteSpec). Pruning on it is the hash-partition
    * analog of the reference's tablet prune
    * (nereids/rules/rewrite/PruneOlapScanTablet.java). */
  def bucketLong(v: Long, n: Int): Int = {
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    (graft.functions.Murmur3.hash32(b, 0) & Integer.MAX_VALUE) % n
  }

  private[ops] def readAvro(path: String): Seq[GenericRecord] = {
    val in = new DataFileStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (in.hasNext) out += in.next()
      out.result()
    } finally in.close()
  }

  // ------------------------------------------------------- writer (fixture)

  /** Snapshot actions for the fixture writer: appends of (partValue →
    * rows) batches, position deletes addressed as (dataFileIndex,
    * positions), and EQUALITY deletes (content=2) given as the rows of
    * equality-column values to remove — each action commits one
    * snapshot with its own sequence number, which is what the reader's
    * visibility rule keys on. */
  sealed trait Action
  final case class Append(batch: Seq[(String, Seq[Row])]) extends Action
  final case class PosDelete(entries: Seq[(Int, Seq[Long])]) extends Action
  final case class EqDelete(rows: Seq[Row],
                            schema: org.apache.spark.sql.types.StructType) extends Action

  /** Back-compat convenience: appends then (optionally) one
    * position-delete snapshot. */
  def writeFixtureTable(spark: SparkSession, tableDir: String,
                        schemaDf: DataFrame,
                        appends: Seq[Seq[(String, Seq[Row])]],
                        deletes: Seq[(Int, Seq[Long])]): Unit =
    writeFixtureTable(spark, tableDir, schemaDf,
      appends.map(Append(_)) ++
        (if (deletes.nonEmpty) Seq(PosDelete(deletes)) else Nil))

  /** Stage a spec-shaped iceberg table from an ordered snapshot-action
    * log. Driver staging — test scaffolding so the reader has a real
    * metadata chain to walk. Each data file's rows are written in the
    * given order (single in-memory partition), so delete positions are
    * exact by construction. */
  def writeFixtureTable(spark: SparkSession, tableDir: String,
                        schemaDf: DataFrame,
                        actions: Seq[Action]): Unit = {
    val dir = new java.io.File(tableDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "metadata").mkdirs()

    val dataFiles = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var seq = 0L
    val snapshotIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val manifestLists = scala.collection.mutable.ArrayBuffer.empty[String]
    val manifests = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]

    def writeParquetFile(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
                         target: String): Long = {
      val tmp = s"$tableDir/tmp_stage"
      spark.createDataFrame(
          new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(target)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      dst.length()
    }

    def writeManifest(path: String,
                      entries: Seq[(Int, String, Option[String], Long, Long, Long,
                        Map[String, Long], Map[String, Long])],
                      snapId: Long): Unit = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ManifestEntrySchema))
      w.create(ManifestEntrySchema, new java.io.File(path))
      entries.foreach { case (content, fp, part, rc, bytes, sq, lower, upper) =>
        val partRec = new GenericData.Record(
          ManifestEntrySchema.getField("data_file").schema.getField("partition").schema)
        partRec.put("part_value", part.orNull)
        val df = new GenericData.Record(ManifestEntrySchema.getField("data_file").schema)
        df.put("content", content)
        df.put("file_path", fp)
        df.put("file_format", "PARQUET")
        df.put("partition", partRec)
        df.put("record_count", rc)
        df.put("file_size_in_bytes", bytes)
        def toJava(m: Map[String, Long]): java.util.Map[String, java.lang.Long] =
          if (m.isEmpty) null
          else {
            val jm = new java.util.HashMap[String, java.lang.Long]()
            m.foreach { case (k, v) => jm.put(k, java.lang.Long.valueOf(v)) }
            jm
          }
        df.put("lower_bounds", toJava(lower))
        df.put("upper_bounds", toJava(upper))
        val e = new GenericData.Record(ManifestEntrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapId)
        e.put("sequence_number", sq)
        e.put("data_file", df)
        w.append(e)
      }
      w.close()
    }

    def writeManifestList(path: String): Unit = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ManifestFileSchema))
      w.create(ManifestFileSchema, new java.io.File(path))
      manifests.foreach { case (mp, content, sq) =>
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", new java.io.File(mp).length())
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", sq)
        r.put("min_sequence_number", sq)
        r.put("added_snapshot_id", snapshotIds.last)
        w.append(r)
      }
      w.close()
    }

    // one snapshot per action, each with its own sequence number
    actions.zipWithIndex.foreach { case (action, i) =>
      seq += 1
      val snapId = 1000L + i
      snapshotIds += snapId
      action match {
        case Append(batch) =>
          // manifest value bounds for integral columns — the writer-side
          // half of the spec's lower_bounds/upper_bounds stats
          def colBounds(rows: Seq[Row]): (Map[String, Long], Map[String, Long]) = {
            val numeric = schemaDf.schema.fields.zipWithIndex.collect {
              case (f, idx) if f.dataType == org.apache.spark.sql.types.LongType ||
                f.dataType == org.apache.spark.sql.types.IntegerType => (f.name, idx, f.dataType)
            }
            val lo = Map.newBuilder[String, Long]
            val hi = Map.newBuilder[String, Long]
            numeric.foreach { case (name, idx, dt) =>
              val vs = rows.filterNot(_.isNullAt(idx)).map { r =>
                if (dt == org.apache.spark.sql.types.LongType) r.getLong(idx)
                else r.getInt(idx).toLong
              }
              if (vs.nonEmpty) { lo += name -> vs.min; hi += name -> vs.max }
            }
            (lo.result(), hi.result())
          }
          val entries = batch.map { case (part, rows) =>
            val fp = s"$tableDir/data/s${i}_$part.parquet"
            val bytes = writeParquetFile(rows, schemaDf.schema, fp)
            dataFiles += ((fp, part, rows.size.toLong))
            val (lo, hi) = colBounds(rows)
            (0, fp, Some(part), rows.size.toLong, bytes, seq, lo, hi)
          }
          val mp = s"$tableDir/metadata/manifest-$seq.avro"
          writeManifest(mp, entries, snapId)
          manifests += ((mp, 0, seq))
        case PosDelete(entries0) =>
          import org.apache.spark.sql.types._
          val delSchema = StructType(Seq(StructField("file_path", StringType),
            StructField("pos", LongType)))
          val delRows = entries0.flatMap { case (fi, poss) =>
            poss.map(p => Row(dataFiles(fi)._1, p)) }
          val fp = s"$tableDir/data/deletes-$seq.parquet"
          val bytes = writeParquetFile(delRows, delSchema, fp)
          val mp = s"$tableDir/metadata/manifest-$seq.avro"
          writeManifest(mp, Seq((1, fp, None, delRows.size.toLong, bytes, seq,
            Map.empty[String, Long], Map.empty[String, Long])), snapId)
          manifests += ((mp, 1, seq))
        case EqDelete(rows, schema) =>
          val fp = s"$tableDir/data/eq-deletes-$seq.parquet"
          val bytes = writeParquetFile(rows, schema, fp)
          val mp = s"$tableDir/metadata/manifest-$seq.avro"
          writeManifest(mp, Seq((2, fp, None, rows.size.toLong, bytes, seq,
            Map.empty[String, Long], Map.empty[String, Long])), snapId)
          manifests += ((mp, 1, seq))
      }
      val ml = s"$tableDir/metadata/snap-$snapId.avro"
      writeManifestList(ml)
      manifestLists += ml
    }

    // table metadata json + version hint
    val snapsJson = snapshotIds.zip(manifestLists).zipWithIndex.map {
      case ((sid, ml), i) =>
        s"""{"snapshot-id":$sid,"sequence-number":${i + 1},
           |"timestamp-ms":${1700000000000L + i},
           |"manifest-list":"$ml","summary":{"operation":"append"}}""".stripMargin
    }.mkString(",")
    val metaJson =
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000000",
         |"location":"$tableDir","last-sequence-number":$seq,
         |"current-snapshot-id":${snapshotIds.last},
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"part_value","transform":"identity","source-id":1,"field-id":1000}]}],
         |"snapshots":[$snapsJson]}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "metadata", "v1.metadata.json"), metaJson)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "metadata", "version-hint.text"), "1")
  }
}
