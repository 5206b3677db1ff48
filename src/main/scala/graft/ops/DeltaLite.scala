package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Delta Lake TABLE-FORMAT read path from the PUBLIC protocol spec
  * (github.com/delta-io/delta/blob/master/PROTOCOL.md) with no
  * connector jar — the sibling of [[IcebergLite]] (reference:
  * fe/fe-core/.../datasource/ — Doris's multi-catalog reads lakehouse
  * tables through the same published formats).
  *
  * The protocol: `_delta_log/` holds zero-padded versioned commits
  * (`00000000000000000000.json`, one JSON ACTION per line — `add`,
  * `remove`, `metaData`, `protocol`, `commitInfo`). The table state at
  * version V is the log replay 0..V: latest `add` per path wins,
  * `remove` drops it. `add.path` is RELATIVE to the table root and
  * `partitionValues` carries the identity partition tuple.
  *
  * Spark-first mapping: the log is METADATA-sized and replays on the
  * driver (FE role); partition pruning filters `partitionValues`
  * during replay — before any parquet footer is opened; the data read
  * is one `spark.read.parquet(liveFiles)`. Time travel = replay to an
  * older version. Checkpoints are supported on both sides: replay
  * starts from `_last_checkpoint` when present
  * ([[planFilesWithCheckpoint]]) and [[writeCheckpoint]] emits the
  * PROTOCOL.md checkpoint schema — `protocol` + `metaData` + live
  * `add`s + `remove` tombstones as nullable top-level action columns —
  * so a spec-conformant external reader can reconstruct the table
  * after [[expireLog]] deletes the pre-checkpoint commits. Honest
  * scope: deletion vectors and column mapping are out of scope and
  * documented here; the writer is fixture scaffolding (no concurrent
  * commit protocol). Correctness is non-circular: the `src_delta_*`
  * oracles recompute expected content from the base table by
  * predicate. */
object DeltaLite {

  private def mapper = new ObjectMapper()

  /** A deletion-vector descriptor as the `add.deletionVector` action
    * field carries it (PROTOCOL.md): `storageType` "i" = inline z85,
    * "p" = absolute-path DV file. */
  final case class DvDesc(storageType: String, pathOrInlineDv: String,
                          offset: Int, sizeInBytes: Int, cardinality: Long)

  /** One live file after replay: path, identity partition values, and
    * the deletion vector currently attached to it (if any). */
  final case class AddFile(path: String, partitionValues: Map[String, String],
                           dv: Option[DvDesc])

  private def parseAdd(a: com.fasterxml.jackson.databind.JsonNode): AddFile = {
    val pv = Option(a.get("partitionValues")).map { m =>
      val it = m.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val k = it.next(); b += k -> m.get(k).asText }
      b.result()
    }.getOrElse(Map.empty[String, String])
    val dv = Option(a.get("deletionVector")).map { d =>
      DvDesc(d.get("storageType").asText, d.get("pathOrInlineDv").asText,
        Option(d.get("offset")).map(_.asInt).getOrElse(0),
        d.get("sizeInBytes").asInt, d.get("cardinality").asLong)
    }
    AddFile(a.get("path").asText, pv, dv)
  }

  /** Live files (with their deletion vectors) after replaying the log
    * up to and including `version` (default: latest). */
  def planAdds(tableDir: String, version: Option[Long] = None,
               partFilter: Option[Map[String, String] => Boolean] = None)
      : Seq[AddFile] = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getName)
      .filter(f => version.forall(v => f.getName.dropRight(5).toLong <= v))
    require(commits.nonEmpty, s"no delta commits <= $version in $logDir")
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    commits.foreach { f =>
      java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
        if (line.nonEmpty) {
          val node = mapper.readTree(line)
          if (node.has("add")) {
            val a = parseAdd(node.get("add"))
            live(a.path) = a
          } else if (node.has("remove")) {
            live.remove(node.get("remove").get("path").asText)
          }
        }
      }
    }
    live.values.toSeq.filter(a => partFilter.forall(_(a.partitionValues)))
  }

  /** Live (path, partitionValues) — the DV-less projection kept for the
    * many call sites that only plan paths. */
  def planFiles(tableDir: String, version: Option[Long] = None,
                partFilter: Option[Map[String, String] => Boolean] = None)
      : Seq[(String, Map[String, String])] =
    planAdds(tableDir, version, partFilter).map(a => (a.path, a.partitionValues))

  /** Like [[planFiles]] but starting from `_last_checkpoint` when one
    * exists (the protocol's scale path: at 100 TB the log is thousands
    * of commits and replaying every JSON is the bottleneck — the
    * checkpoint parquet IS the state at its version, so replay is one
    * metadata-sized parquet read + the post-checkpoint tail). Falls
    * back to full JSON replay when there is no usable checkpoint.
    * Correctness is provable non-circularly: after log expiry deletes
    * the pre-checkpoint commits, only a correct checkpoint read can
    * reconstruct the table. */
  def planAddsWithCheckpoint(spark: SparkSession, tableDir: String,
                             version: Option[Long] = None,
                             partFilter: Option[Map[String, String] => Boolean] = None)
      : Seq[AddFile] = {
    val lastCp = new java.io.File(tableDir, "_delta_log/_last_checkpoint")
    val cpVersion = if (lastCp.exists())
      Some(mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
        .get("version").asLong)
    else None
    cpVersion.filter(cv => version.forall(cv <= _)) match {
      case None => planAdds(tableDir, version, partFilter)
      case Some(cv) =>
        // checkpoint rows: one action per row, `add` struct for live files
        val cpFile = f"$tableDir/_delta_log/$cv%020d.checkpoint.parquet"
        val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
        val cpDf = spark.read.parquet(cpFile)
        val hasDv = cpDf.select("add").schema.head.dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.contains("deletionVector")
        cpDf.select("add").where("add IS NOT NULL")
          .collect().foreach { row =>
            val a = row.getStruct(0)
            val path = a.getString(a.fieldIndex("path"))
            val pv = Option(a.getMap[String, String](a.fieldIndex("partitionValues")))
              .map(_.toMap).getOrElse(Map.empty[String, String])
            val dv =
              if (!hasDv || a.isNullAt(a.fieldIndex("deletionVector"))) None
              else {
                val d = a.getStruct(a.fieldIndex("deletionVector"))
                Some(DvDesc(d.getString(d.fieldIndex("storageType")),
                  d.getString(d.fieldIndex("pathOrInlineDv")),
                  d.getInt(d.fieldIndex("offset")),
                  d.getInt(d.fieldIndex("sizeInBytes")),
                  d.getLong(d.fieldIndex("cardinality"))))
              }
            live(path) = AddFile(path, pv, dv)
          }
        // replay only the post-checkpoint JSON tail
        val logDir = new java.io.File(tableDir, "_delta_log")
        Option(logDir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("\\d{20}\\.json"))
          .sortBy(_.getName)
          .filter { f =>
            val v = f.getName.dropRight(5).toLong
            v > cv && version.forall(v <= _)
          }
          .foreach { f =>
            java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
              if (line.nonEmpty) {
                val node = mapper.readTree(line)
                if (node.has("add")) {
                  val a = parseAdd(node.get("add"))
                  live(a.path) = a
                } else if (node.has("remove")) {
                  live.remove(node.get("remove").get("path").asText)
                }
              }
            }
          }
        live.values.toSeq.filter(a => partFilter.forall(_(a.partitionValues)))
    }
  }

  def planFilesWithCheckpoint(spark: SparkSession, tableDir: String,
                              version: Option[Long] = None,
                              partFilter: Option[Map[String, String] => Boolean] = None)
      : Seq[(String, Map[String, String])] =
    planAddsWithCheckpoint(spark, tableDir, version, partFilter)
      .map(a => (a.path, a.partitionValues))

  /** The latest `txn` action version for `appId` (PROTOCOL.md
    * "Transaction Identifiers" — the idempotent-streaming-write
    * mechanism): checkpoint txn rows first, then the JSON tail; None
    * when the app never committed. */
  def lastTxnVersion(spark: SparkSession, tableDir: String,
                     appId: String): Option[Long] = {
    var last: Option[Long] = None
    val lastCp = new java.io.File(tableDir, "_delta_log/_last_checkpoint")
    val cpVersion = if (lastCp.exists())
      Some(mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
        .get("version").asLong)
    else None
    cpVersion.foreach { cv =>
      val cpDf = spark.read.parquet(f"$tableDir/_delta_log/$cv%020d.checkpoint.parquet")
      if (cpDf.columns.contains("txn")) {
        import org.apache.spark.sql.functions.col
        cpDf.where("txn IS NOT NULL")
          .select(col("txn.appId"), col("txn.version"))
          .collect()
          .filter(_.getString(0) == appId)
          .foreach(r => last = Some(r.getLong(1)))
      }
    }
    val logDir = new java.io.File(tableDir, "_delta_log")
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json") &&
        cpVersion.forall(f.getName.dropRight(5).toLong > _))
      .sortBy(_.getName)
      .foreach { f =>
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.has("txn") && node.get("txn").get("appId").asText == appId)
              last = Some(node.get("txn").get("version").asLong)
          }
        }
      }
    last
  }

  /** The HISTORY table (`DESCRIBE HISTORY` surface): one row per JSON
    * commit still on the log — version, commit timestamp (max action
    * timestamp in the commit), adds, removes. */
  def historyTable(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val logDir = new java.io.File(tableDir, "_delta_log")
    val rows = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getName)
      .map { f =>
        val v = f.getName.dropRight(5).toLong
        var (adds, removes, ts) = (0L, 0L, 0L)
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.has("add")) {
              adds += 1
              ts = math.max(ts, Option(node.get("add").get("modificationTime"))
                .map(_.asLong).getOrElse(0L))
            } else if (node.has("remove")) {
              removes += 1
              ts = math.max(ts, Option(node.get("remove").get("deletionTimestamp"))
                .map(_.asLong).getOrElse(0L))
            }
          }
        }
        Row(v, ts, adds, removes)
      }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows.toSeq: _*)),
      StructType(Seq(StructField("version", LongType),
        StructField("timestamp_ms", LongType),
        StructField("n_adds", LongType), StructField("n_removes", LongType))))
  }

  /** Timestamp time travel: the latest version whose commit timestamp
    * is at or before `tsMillis`. */
  def readTimestampAsOf(spark: SparkSession, tableDir: String,
                        tsMillis: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val hist = historyTable(spark, tableDir)
      .filter(col("timestamp_ms") <= tsMillis)
      .orderBy(col("version").desc)
      .select("version").collect()
    require(hist.nonEmpty, s"no version at or before $tsMillis")
    readVersion(spark, tableDir, Some(hist.head.getLong(0)))
  }

  /** The table's current `metaData.schemaString` at `version` — newest
    * JSON-commit metaData wins; falls back to the checkpoint's metaData
    * row when the holder commits are expired. None when the table
    * predates schema tracking (fixtures write "{}"). */
  def tableSchemaString(spark: SparkSession, tableDir: String,
                        version: Option[Long] = None): Option[String] = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    var found: Option[String] = None
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json") &&
        version.forall(v => f.getName.dropRight(5).toLong <= v))
      .sortBy(_.getName)
      .foreach { f =>
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.has("metaData"))
              found = Option(node.get("metaData").get("schemaString")).map(_.asText)
          }
        }
      }
    found.filter(_ != "{}").orElse {
      val lastCp = new java.io.File(tableDir, "_delta_log/_last_checkpoint")
      if (!lastCp.exists()) None
      else {
        val cv = mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
          .get("version").asLong
        if (!version.forall(cv <= _)) None
        else spark.read
          .parquet(f"$tableDir/_delta_log/$cv%020d.checkpoint.parquet")
          .where("metaData IS NOT NULL")
          .selectExpr("metaData.schemaString")
          .collect().headOption.map(_.getString(0)).filter(_ != "{}")
      }
    }
  }

  /** COLUMN MAPPING (PROTOCOL.md "Column Mapping", mode `name`): when
    * the schemaString's fields carry `delta.columnMapping.physicalName`
    * metadata, parquet files store PHYSICAL column names and the reader
    * renames them back to the logical schema. Returns logical→physical
    * pairs, or Nil when the table is unmapped. */
  def columnMapping(spark: SparkSession, tableDir: String,
                    version: Option[Long] = None): Seq[(String, String)] =
    tableSchemaString(spark, tableDir, version).toSeq.flatMap { ss =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(ss))
        .toOption.collect { case st: org.apache.spark.sql.types.StructType =>
          st.fields.toSeq.flatMap { f =>
            if (f.metadata.contains("delta.columnMapping.physicalName"))
              Some(f.name -> f.metadata.getString("delta.columnMapping.physicalName"))
            else None
          }
        }.getOrElse(Nil)
    }

  /** Read a version (default latest) with optional partition pruning —
    * checkpoint-aware (see [[planFilesWithCheckpoint]]), DELETION
    * VECTORS applied: each file's DV positions (inline z85 or DV-file
    * blob, decoded EXECUTOR-SIDE from the metadata-sized descriptors)
    * anti-join against Spark's native
    * `_metadata.file_path`/`row_index`, the same distributed discipline
    * as the Iceberg position deletes. */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Option[Long] = None,
                  partFilter: Option[Map[String, String] => Boolean] = None,
                  keepPositions: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val adds = planAddsWithCheckpoint(spark, tableDir, version, partFilter)
    require(adds.nonEmpty, "no live files after replay/pruning")
    // a DECLARED schema plans the scan explicitly: files written before
    // an ADD COLUMN null-fill the missing field natively — no
    // mergeSchema footer sweep, which is the difference between one
    // metadata read and opening every footer at 100 TB. Mapped tables
    // plan the PHYSICAL column names (what the parquet stores); the
    // mapping select below renames to the logical schema.
    val mapping0 = columnMapping(spark, tableDir, version)
    val declared: Option[org.apache.spark.sql.types.StructType] =
      tableSchemaString(spark, tableDir, version).flatMap { ss =>
        scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(ss))
          .toOption.collect { case st: org.apache.spark.sql.types.StructType =>
            if (mapping0.isEmpty) st
            else {
              val phys = mapping0.toMap
              org.apache.spark.sql.types.StructType(st.fields.map(f =>
                f.copy(name = phys.getOrElse(f.name, f.name),
                  metadata = org.apache.spark.sql.types.Metadata.empty)))
            }
          }
      }
    val paths = adds.map(a => s"$tableDir/${a.path}")
    val data = LakeFiles.scan(spark, paths, declared)
    val withDv = adds.filter(_.dv.isDefined)
    // keepPositions: DML callers (one-pass MERGE) keep the LIVE rows'
    // (__fp, __pos) identity so the join evaluates once and its claimed
    // positions feed the DV writer directly
    val afterDv = if (withDv.isEmpty) {
      if (!keepPositions) data
      else data
        .withColumn("__fp", LakeFiles.pathCol)
        .withColumn("__pos", col("_metadata.row_index"))
    } else {
      // DV descriptors are metadata-sized; the POSITIONS are not — at
      // 100 TB a broad delete holds millions of them, so the roaring
      // blobs decode EXECUTOR-SIDE (one task per descriptor, reading
      // its .bin range or inline payload) and only the anti-join frame
      // exists distributed. The driver ships (path, descriptor) pairs.
      val descs: Seq[(String, String, String, Int, Int, Long)] =
        withDv.map { a =>
          val d = a.dv.get
          require(d.storageType == "i" || d.storageType == "p",
            s"unsupported DV storageType '${d.storageType}'")
          (LakeFiles.key(new java.io.File(tableDir, a.path).getAbsolutePath),
            d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
            d.cardinality)
        }
      val delSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__fp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__pos",
          org.apache.spark.sql.types.LongType)))
      val delRows = spark.sparkContext
        .parallelize(descs, math.max(1, math.min(descs.size, 32)))
        .flatMap { case (abs, st, payload, off, size, card) =>
          val positions = st match {
            case "i" => DeltaDv.dvBlobPositions(DeltaDv.z85Decode(payload))
            case _ => DeltaDv.readDvFile(payload, off, size)
          }
          require(positions.size.toLong == card,
            s"DV cardinality mismatch: ${positions.size} vs $card")
          positions.map(p => Row(abs, p))
        }
      val dels = spark.createDataFrame(delRows, delSchema)
      val joined = data
        .withColumn("__fp", LakeFiles.pathCol)
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dels, Seq("__fp", "__pos"), "left_anti")
      if (keepPositions) joined else joined.drop("__fp", "__pos")
    }
    // column mapping: physical parquet names → the logical schema
    val mapping = columnMapping(spark, tableDir, version)
    if (mapping.isEmpty) afterDv
    else afterDv.select(mapping.map { case (logical, physical) =>
      col(physical).as(logical) } ++
      (if (keepPositions) Seq(col("__fp"), col("__pos")) else Nil): _*)
  }

  /** CHANGE FEED over (fromVersion, toVersion] — the Delta CDC analog
    * completing the incremental-read quartet next to
    * [[IcebergLite.readIncremental]], [[HudiLite.readIncrementalMor]]
    * and [[PaimonLite.readIncremental]]. Derived from the log's OWN
    * change markers, no _change_data files needed:
    *  - an `add` with dataChange=true of a NEW path ships that file's
    *    rows as `_CHANGE_TYPE='insert'`;
    *  - an `add` with dataChange=true that re-adds a LIVE path with a
    *    grown deletion vector ships the NEWLY-dead positions as
    *    `'delete'` rows;
    *  - a `remove` with dataChange=true (partition delete, restore)
    *    ships the file's then-live rows (its DV applied) as
    *    `'delete'`;
    *  - dataChange=false actions (OPTIMIZE, rewrite) are state motion,
    *    not change, and ship nothing — the same discipline as the
    *    other three formats' compaction skipping.
    * Works only while the window's files survive vacuum (loud
    * otherwise, via the parquet read). Driver work is log-sized; DV
    * position sets decode executor-side as in [[readVersion]]. */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion < toVersion,
      s"from ($fromVersion) must precede to ($toVersion)")
    // running state: live adds (with DVs) replayed to fromVersion
    val state = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    planAdds(tableDir, Some(fromVersion)).foreach(a => state(a.path) = a)
    val logDir = new java.io.File(tableDir, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName.matches("\\d{20}\\.json") && {
          val v = f.getName.dropRight(5).toLong
          v > fromVersion && v <= toVersion
        }
      }.sortBy(_.getName)
    require(commits.nonEmpty, s"no commits in ($fromVersion, $toVersion]")

    val insertFiles = Seq.newBuilder[AddFile]  // whole file inserted (DV applied)
    val fullDeletes = Seq.newBuilder[AddFile]  // then-live rows deleted
    // DV transitions on a live path: (path, newDv, oldDv) — new-only
    // positions are deletes, old-only positions are re-inserts (restore)
    val dvChanges = Seq.newBuilder[(String, Option[DvDesc], Option[DvDesc])]
    commits.foreach { f =>
      val preCommit: Map[String, AddFile] = state.toMap
      val adds = Seq.newBuilder[(AddFile, Boolean)]
      val removes = Seq.newBuilder[(String, Boolean)]
      java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
        if (line.nonEmpty) {
          val node = mapper.readTree(line)
          if (node.has("add"))
            adds += ((parseAdd(node.get("add")),
              node.get("add").get("dataChange").asBoolean(false)))
          else if (node.has("remove"))
            removes += ((node.get("remove").get("path").asText,
              node.get("remove").get("dataChange").asBoolean(false)))
        }
      }
      val readded = adds.result().map(_._1.path).toSet
      adds.result().foreach { case (a, dc) =>
        if (dc) preCommit.get(a.path) match {
          case None => insertFiles += a
          case Some(old) => if (a.dv != old.dv) dvChanges += ((a.path, a.dv, old.dv))
        }
      }
      removes.result().foreach { case (p, dc) =>
        if (!readded.contains(p)) {
          if (dc) preCommit.get(p).foreach(fullDeletes += _)
          state.remove(p)
        }
      }
      adds.result().foreach { case (a, _) => state(a.path) = a }
    }

    // ---- assemble the change frame (all reads distributed; DV
    // position sets decode executor-side)
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def abs(p: String) = new java.io.File(tableDir, p).getAbsolutePath
    def dvPositionsRdd(entries: Seq[(String, DvDesc)]) =
      spark.sparkContext
        .parallelize(entries.map { case (fp, d) => (LakeFiles.key(fp), d) },
          math.max(1, math.min(entries.size, 32)))
        .flatMap { case (fp, d) =>
          val ps = d.storageType match {
            case "i" => DeltaDv.dvBlobPositions(DeltaDv.z85Decode(d.pathOrInlineDv))
            case _ => DeltaDv.readDvFile(d.pathOrInlineDv, d.offset, d.sizeInBytes)
          }
          ps.map(p => Row(fp, p))
        }
    val posSchema = StructType(Seq(StructField("__fp", StringType),
      StructField("__pos", LongType)))
    // plan every file read with the DECLARED (physical-named) schema at
    // toVersion: a window holding pre- AND post-evolution files would
    // otherwise take one footer's schema and silently DROP the evolved
    // column from the other files' rows; declared planning null-fills
    val mappingTo = columnMapping(spark, tableDir, Some(toVersion))
    val declaredPhys: Option[StructType] =
      tableSchemaString(spark, tableDir, Some(toVersion)).flatMap { ss =>
        scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(ss))
          .toOption.collect { case st: StructType =>
            val phys = mappingTo.toMap
            StructType(st.fields.map(f =>
              f.copy(name = phys.getOrElse(f.name, f.name),
                metadata = org.apache.spark.sql.types.Metadata.empty)))
          }
      }
    def withPos(files: Seq[String]) =
      (declaredPhys match {
        case Some(st) => spark.read.schema(st)
        case None => spark.read
      }).parquet(files: _*)
        .withColumn("__fp", LakeFiles.pathCol)
        .withColumn("__pos", col("_metadata.row_index"))
    val frames = Seq.newBuilder[DataFrame]
    locally { // whole-file inserts, their own DVs applied
      val ins = insertFiles.result()
      if (ins.nonEmpty) {
        val dels = spark.createDataFrame(dvPositionsRdd(
          ins.flatMap(a => a.dv.map(abs(a.path) -> _))), posSchema)
        frames += withPos(ins.map(a => abs(a.path)))
          .join(dels, Seq("__fp", "__pos"), "left_anti")
          .drop("__fp", "__pos")
          .withColumn("_CHANGE_TYPE", lit("insert"))
      }
    }
    locally { // whole-file deletes: the rows live at removal time
      val del = fullDeletes.result()
      if (del.nonEmpty) {
        val dead = spark.createDataFrame(dvPositionsRdd(
          del.flatMap(a => a.dv.map(abs(a.path) -> _))), posSchema)
        frames += withPos(del.map(a => abs(a.path)))
          .join(dead, Seq("__fp", "__pos"), "left_anti")
          .drop("__fp", "__pos")
          .withColumn("_CHANGE_TYPE", lit("delete"))
      }
    }
    locally { // DV transitions: per direction one position-set semi-join
      val trans = dvChanges.result()
      def sideRows(pick: ((String, Option[DvDesc], Option[DvDesc])) => (Seq[(String, DvDesc)], Seq[(String, DvDesc)]),
                   changeType: String): Unit = {
        val (plus, minus) = trans.map(pick)
          .foldLeft((Seq.empty[(String, DvDesc)], Seq.empty[(String, DvDesc)])) {
            case ((p, m), (p2, m2)) => (p ++ p2, m ++ m2)
          }
        if (plus.nonEmpty) {
          val plusDf = spark.createDataFrame(dvPositionsRdd(plus), posSchema)
          val minusDf = spark.createDataFrame(dvPositionsRdd(minus), posSchema)
          val target = plusDf.join(minusDf, Seq("__fp", "__pos"), "left_anti")
          frames += withPos(plus.map(_._1).distinct)
            .join(target, Seq("__fp", "__pos"), "left_semi")
            .drop("__fp", "__pos")
            .withColumn("_CHANGE_TYPE", lit(changeType))
        }
      }
      // deletes: positions in NEW dv but not old
      sideRows(t => (t._2.map(abs(t._1) -> _).toSeq, t._3.map(abs(t._1) -> _).toSeq), "delete")
      // re-inserts: positions in OLD dv but not new (restore)
      sideRows(t => (t._3.map(abs(t._1) -> _).toSeq, t._2.map(abs(t._1) -> _).toSeq), "insert")
    }
    val all = frames.result()
    val out =
      if (all.nonEmpty) all.reduce(_ unionByName _)
      else {
        // a window of pure state motion (OPTIMIZE) ships an EMPTY frame
        // with the right schema — streaming consumers poll windows
        val anyFile = state.headOption.map(s => abs(s._1))
        require(anyFile.isDefined, "empty change window on an empty table")
        val dataSchema = declaredPhys
          .getOrElse(LakeFiles.footerSchema(spark, anyFile.get))
        spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType(dataSchema.fields :+
            StructField("_CHANGE_TYPE", StringType, nullable = false)))
      }
    // column-mapped (renamed) tables: the files store PHYSICAL names —
    // the feed ships the LOGICAL schema, like every read here
    val mapping = columnMapping(spark, tableDir, Some(toVersion))
    if (mapping.isEmpty) out
    else out.select(mapping.map { case (l, p) => col(p).as(l) } :+
      col("_CHANGE_TYPE"): _*)
  }

  /** Write a PROTOCOL.md-conformant checkpoint at `version`: one
    * parquet whose rows are the table state as nullable action columns
    * — exactly one `protocol` row, exactly one `metaData` row (the
    * latest of each at `version`; the spec REQUIRES both, since after
    * log expiry the checkpoint may be their only holder), every live
    * `add`, and `remove` tombstones for files whose last action was a
    * remove — plus the `_last_checkpoint` pointer. */
  def writeCheckpoint(spark: SparkSession, tableDir: String, version: Long): Unit = {
    import org.apache.spark.sql.types._
    val logDir = new java.io.File(tableDir, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json") &&
        f.getName.dropRight(5).toLong <= version)
      .sortBy(_.getName)
    require(commits.nonEmpty, s"no delta commits <= $version to checkpoint")
    var protocol: Option[Row] = None
    var metaData: Option[Row] = None
    val liveAdds = scala.collection.mutable.LinkedHashMap.empty[String, Row]
    val tombstones = scala.collection.mutable.LinkedHashMap.empty[String, Row]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    commits.foreach { f =>
      java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
        if (line.nonEmpty) {
          val node = mapper.readTree(line)
          if (node.has("add")) {
            val a = node.get("add")
            val pv = Option(a.get("partitionValues")).map { m =>
              val it = m.fieldNames()
              val b = Map.newBuilder[String, String]
              while (it.hasNext) { val k = it.next(); b += k -> m.get(k).asText }
              b.result()
            }.getOrElse(Map.empty[String, String])
            val path = a.get("path").asText
            val dvRow = Option(a.get("deletionVector")).map { d =>
              Row(d.get("storageType").asText, d.get("pathOrInlineDv").asText,
                Option(d.get("offset")).map(_.asInt).getOrElse(0),
                d.get("sizeInBytes").asInt, d.get("cardinality").asLong)
            }.orNull
            // checkpoints record state, not change: dataChange=false
            liveAdds(path) = Row(path, pv,
              Option(a.get("size")).map(_.asLong).getOrElse(0L),
              Option(a.get("modificationTime")).map(_.asLong).getOrElse(0L),
              false, dvRow)
            tombstones.remove(path)
          } else if (node.has("remove")) {
            val r = node.get("remove")
            val path = r.get("path").asText
            liveAdds.remove(path)
            tombstones(path) = Row(path,
              Option(r.get("deletionTimestamp")).map(_.asLong).getOrElse(0L),
              false)
          } else if (node.has("protocol")) {
            val p = node.get("protocol")
            def feats(n: String): Seq[String] =
              Option(p.get(n)).map(a =>
                (0 until a.size).map(a.get(_).asText)).getOrElse(null)
            protocol = Some(Row(p.get("minReaderVersion").asInt,
              p.get("minWriterVersion").asInt,
              feats("readerFeatures"), feats("writerFeatures")))
          } else if (node.has("metaData")) {
            val m = node.get("metaData")
            val partCols = Option(m.get("partitionColumns")).map { arr =>
              (0 until arr.size).map(arr.get(_).asText)
            }.getOrElse(Seq.empty)
            metaData = Some(Row(m.get("id").asText,
              Row(Option(m.get("format")).map(_.get("provider").asText)
                .getOrElse("parquet")),
              Option(m.get("schemaString")).map(_.asText).getOrElse("{}"),
              partCols))
          } else if (node.has("txn")) {
            val t = node.get("txn")
            txns(t.get("appId").asText) = t.get("version").asLong
          }
        }
      }
    }
    require(protocol.nonEmpty && metaData.nonEmpty,
      "checkpoint requires protocol and metaData actions in the log <= version")
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        // table-features spelling (reader 3 / writer 7): the checkpoint
        // may be the protocol's only holder after log expiry, so the
        // feature lists must survive the round trip
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType))))))
    val rows =
      Seq(Row(protocol.get, null, null, null, null),
        Row(null, metaData.get, null, null, null)) ++
        liveAdds.values.map(a => Row(null, null, a, null, null)) ++
        tombstones.values.map(r => Row(null, null, null, r, null)) ++
        txns.map { case (app, v) => Row(null, null, null, null, Row(app, v)) }
    val tmp = s"$tableDir/_cp_stage"
    spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(tableDir, "_delta_log", f"$version%020d.checkpoint.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "_delta_log", "_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}}""")
  }

  /** Expire (delete) JSON commits at or below `version` — the log
    * retention/VACUUM analog. After this, only the checkpoint path can
    * serve reads that span the expired range, which is exactly what
    * the `src_delta_checkpoint` oracle proves. */
  def expireLog(tableDir: String, version: Long): Seq[String] = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json") &&
        f.getName.dropRight(5).toLong <= version)
      .map { f => f.delete(); f.getName }.toSeq
  }

  // ------------------------------------------------------- writer (fixture)
  /** Commit actions for the fixture writer: each element is one
    * commit — adds of (relativePath-less partition value → rows) and
    * removes of previously-added relative paths. */
  final case class Commit(adds: Seq[(String, Seq[Row])] = Nil,
                          removes: Seq[String] = Nil)

  /** Stage a protocol-shaped delta table (driver staging — test
    * scaffolding): data files under `data/`, one JSON commit per
    * [[Commit]], relative `add.path`s, identity `partitionValues`
    * keyed by `part`. Returns the relative paths added, in order. */
  def writeFixtureTable(spark: SparkSession, tableDir: String,
                        schemaDf: DataFrame,
                        commits: Seq[Commit]): Seq[String] = {
    val dir = new java.io.File(tableDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "_delta_log").mkdirs()
    val added = Seq.newBuilder[String]
    commits.zipWithIndex.foreach { case (c, v) =>
      val lines = Seq.newBuilder[String]
      if (v == 0) {
        lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        lines += s"""{"metaData":{"id":"00000000-0000-0000-0000-000000000000","format":{"provider":"parquet"},"partitionColumns":["part"],"schemaString":"{}"}}"""
      }
      c.adds.zipWithIndex.foreach { case ((part, rows), j) =>
        val rel = s"data/c${v}_f${j}_$part.parquet"
        val tmp = s"$tableDir/tmp_stage"
        spark.createDataFrame(
            new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
            schemaDf.schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val partFile = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(partFile.toPath,
          new java.io.File(dir, rel).toPath)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        added += rel
        lines += s"""{"add":{"path":"$rel","partitionValues":{"part":"$part"},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + v},"dataChange":true}}"""
      }
      c.removes.foreach { rel =>
        lines += s"""{"remove":{"path":"$rel","deletionTimestamp":${1700000000000L + v},"dataChange":true}}"""
      }
      val name = f"$v%020d.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tableDir, "_delta_log", name),
        String.join("\n", lines.result(): _*).getBytes("UTF-8"))
    }
    added.result()
  }
}
