package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta Lake single-writer WRITE path from the PUBLIC protocol spec
  * (PROTOCOL.md) — the sibling of [[IcebergWriter]] and the inverse of
  * [[DeltaLite]]'s reader (reference sink:
  * be/src/exec/operator/hive_table_sink_operator.h:45 — same
  * stage-files-then-commit shape).
  *
  * Spark-first split, as in the Iceberg writer: the DATA write is one
  * distributed `partitionBy` parquet pass (pre-repartitioned so each
  * identity partition value lands in one file); the COMMIT is
  * driver-side metadata — one `_delta_log/NNN.json` of actions
  * (`protocol` + `metaData` on the first commit, `add` rows with
  * partitionValues/size/modificationTime, `remove` tombstones for
  * deletes), written atomically via temp-file rename. Every
  * `checkpointInterval` commits the writer also emits the PROTOCOL.md
  * checkpoint parquet + `_last_checkpoint` pointer
  * ([[DeltaLite.writeCheckpoint]]), which is the 100 TB replay story:
  * readers start from the checkpoint and replay only the JSON tail.
  *
  * Honest scope: single writer — the optimistic-concurrency loop
  * (conflict detection on the next version number) is out of scope;
  * append + partition-delete commits; identity partitions. Round-trip
  * correctness is non-circular: `src_delta_write_scan` reads back
  * through the independent [[DeltaLite]] replay against an oracle
  * recomputed from the base table by predicate. */
object DeltaWriter {

  /** Commits between automatic checkpoints (the protocol's default
    * cadence is 10). */
  val CheckpointInterval = 10

  private def nextVersion(tableDir: String): Long = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    val maxJson = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .map(_.getName.dropRight(5).toLong)
      .foldLeft(-1L)(math.max)
    // checkpoint-aware: after expireLog removes every JSON commit the
    // checkpoint is the only version holder — restarting at 0 would
    // write a commit planAddsWithCheckpoint filters out (v <= cp
    // version), a silently invisible commit
    val lastCp = new java.io.File(logDir, "_last_checkpoint")
    val cpVersion =
      if (!lastCp.exists()) -1L
      else mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
        .get("version").asLong
    math.max(maxJson, cpVersion) + 1
  }

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The table's current protocol — (minReader, minWriter,
    * readerFeatures, writerFeatures) — latest protocol action wins,
    * checkpoint row first then the JSON tail. None = no protocol yet
    * (table does not exist). */
  private def currentProtocol(spark: SparkSession, tableDir: String)
      : Option[(Int, Int, Set[String], Set[String])] = {
    var found: Option[(Int, Int, Set[String], Set[String])] = None
    val lastCp = new java.io.File(tableDir, "_delta_log/_last_checkpoint")
    if (lastCp.exists()) {
      val cv = mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
        .get("version").asLong
      val cpDf = spark.read.parquet(f"$tableDir/_delta_log/$cv%020d.checkpoint.parquet")
      val pFields = cpDf.select("protocol").schema.head.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
      cpDf.where("protocol IS NOT NULL").select("protocol").collect()
        .foreach { row =>
          val p = row.getStruct(0)
          def feats(n: String): Set[String] =
            if (!pFields.contains(n) || p.isNullAt(p.fieldIndex(n))) Set.empty
            else p.getSeq[String](p.fieldIndex(n)).toSet
          found = Some((p.getInt(p.fieldIndex("minReaderVersion")),
            p.getInt(p.fieldIndex("minWriterVersion")),
            feats("readerFeatures"), feats("writerFeatures")))
        }
    }
    val logDir = new java.io.File(tableDir, "_delta_log")
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .foreach { f =>
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.has("protocol")) {
              val p = node.get("protocol")
              def feats(n: String): Set[String] =
                Option(p.get(n)).map(a =>
                  (0 until a.size).map(a.get(_).asText).toSet).getOrElse(Set.empty)
              found = Some((p.get("minReaderVersion").asInt,
                p.get("minWriterVersion").asInt,
                feats("readerFeatures"), feats("writerFeatures")))
            }
          }
        }
      }
    found
  }

  /** PROTOCOL.md legacy version → table-feature mapping, needed when
    * upgrading to the (3, 7) table-features spelling: writer version 7
    * must list every feature the legacy version implied. */
  private def legacyWriterFeatures(wv: Int): Seq[String] =
    Seq(2 -> Seq("appendOnly", "invariants"), 3 -> Seq("checkConstraints"),
        4 -> Seq("changeDataFeed", "generatedColumns"),
        5 -> Seq("columnMapping"), 6 -> Seq("identityColumns"))
      .collect { case (v, fs) if wv >= v => fs }.flatten
  private def legacyReaderFeatures(rv: Int): Seq[String] =
    if (rv >= 2) Seq("columnMapping") else Nil

  /** The protocol action that upgrades the table to support DELETION
    * VECTORS — PROTOCOL.md requires reader 3 / writer 7 with
    * `deletionVectors` in both feature lists (a writer stamping 1/2
    * would let a spec-conformant external reader silently read deleted
    * rows). None when the table already supports them. */
  private def dvProtocolUpgrade(spark: SparkSession, tableDir: String)
      : Option[String] = featureProtocolUpgrade(spark, tableDir, "deletionVectors")

  /** The protocol action that upgrades the table to carry a
    * reader+writer table FEATURE (PROTOCOL.md "Table Features": reader
    * 3 / writer 7 with the feature in both lists — a writer stamping a
    * legacy version would let a spec-conformant external reader
    * silently misread). None when the table already has it. */
  private def featureProtocolUpgrade(spark: SparkSession, tableDir: String,
                                     feature: String): Option[String] = {
    val p = currentProtocol(spark, tableDir)
    if (p.exists(x => x._3.contains(feature))) None
    else {
      val (rv, wv, rf, wf) = p.getOrElse((1, 2, Set.empty[String], Set.empty[String]))
      val readerF = (legacyReaderFeatures(rv) ++ rf ++ Seq(feature)).distinct.sorted
      val writerF = (legacyWriterFeatures(wv) ++ wf ++ Seq(feature)).distinct.sorted
      Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[${readerF.map(f => s""""$f"""").mkString(",")}],"writerFeatures":[${writerF.map(f => s""""$f"""").mkString(",")}]}}""")
    }
  }

  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextToken(): String =
    s"${ProcessHandle.current().pid()}x${tokenCounter.incrementAndGet()}"

  /** The stored partition value: the raw column (identity) or a
    * monotone date transform (day/month/year — the same spellings and
    * formats [[IcebergWriter.transformCol]] stamps, so the SQL route's
    * transform pruning compares like against like; the real-Delta
    * analog is a generated partition column). */
  private def partExpr(df: DataFrame, partCol: String,
                       partTransform: String): org.apache.spark.sql.Column =
    if (partTransform == "identity") col(partCol).cast("string")
    else IcebergWriter.transformCol(df, partCol, partTransform)

  /** The partitionValues key for one MULTI-FIELD spec component — the
    * generated-column-style name real Delta would give a transformed
    * partition column (PROTOCOL.md partitions by named columns; a
    * transform is a generated column whose NAME is the partition
    * column). Deterministic, so the SQL route's per-component pruning
    * recomputes it from the declared (column, transform) pair. */
  def componentKey(c: String, tr: String): String = tr match {
    case "identity" => c
    case "year" | "month" | "day" => s"${c}_$tr"
    case b if b.startsWith("bucket[") =>
      s"${c}_bucket_${b.stripPrefix("bucket[").stripSuffix("]")}"
    case t if t.startsWith("truncate[") =>
      s"${c}_trunc_${t.stripPrefix("truncate[").stripSuffix("]")}"
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other'")
  }

  /** Stage `df` under `data/` for a MULTI-FIELD spec: one `__pK`
    * directory level per spec field (the [[IcebergWriter]] multi-spec
    * staging), climbed back into the add action's full partitionValues
    * map — each component under its [[componentKey]]. Data files keep
    * every source column (the derived `__pK` columns partition the
    * write and drop out of the file contents). */
  private def stageParquetMulti(spark: SparkSession, tableDir: String,
                                df: DataFrame,
                                partFields: Seq[(String, String)],
                                prefix: String)
      : Seq[(String, Map[String, String])] = {
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "data").mkdirs()
    val tok = nextToken()
    val staging = s"$tableDir/stage_$tok"
    val pcols = partFields.zipWithIndex.map { case ((c, tr), i) =>
      (s"__p$i", IcebergWriter.transformCol(df, c, tr).cast("string")) }
    pcols.foldLeft(df) { case (acc, (n2, c2)) => acc.withColumn(n2, c2) }
      .repartition(pcols.map(p => col(p._1)): _*)
      .write.partitionBy(pcols.map(_._1): _*)
      .mode("overwrite").parquet(staging)
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val keys = partFields.map { case (c, tr) => componentKey(c, tr) }
    def partsOf(f: java.io.File): Option[Map[String, String]] = {
      val comps = new Array[String](partFields.size)
      var d = f.getParentFile
      var ok = true
      var i = partFields.size - 1
      while (i >= 0) {
        val pre = s"__p$i="
        if (d != null && d.getName.startsWith(pre)) {
          comps(i) = d.getName.stripPrefix(pre)
          d = d.getParentFile
        } else ok = false
        i -= 1
      }
      if (ok) Some(keys.zip(comps).toMap) else None
    }
    val moved = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.flatMap { case (f, j) =>
        if (f.length() == 0L) None
        else partsOf(f).map { pv =>
          val rel = s"data/$prefix${tok}_m$j.parquet"
          java.nio.file.Files.move(f.toPath, new java.io.File(dir, rel).toPath)
          (rel, pv)
        }
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    moved
  }

  /** Render a partitionValues map as the add action's JSON object
    * body (keys sorted for deterministic commits). */
  private def pvJson(pv: Map[String, String]): String =
    pv.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${mapper.writeValueAsString(v)}""" }
      .mkString(",")

  /** Append under a MULTI-FIELD partition spec (e.g.
    * `days(ts), bucket(8, id)`) — the Delta sibling of
    * [[IcebergWriter.appendMultiSpec]]: every add action stamps the
    * FULL component map in partitionValues, so
    * [[DeltaLite.planAddsWithCheckpoint]]'s map predicate prunes on
    * any single field's component. Creates the table on first use
    * (metaData partitionColumns = the component keys). */
  def appendMultiSpec(spark: SparkSession, tableDir: String, df: DataFrame,
                      partFields: Seq[(String, String)]): Long = {
    require(partFields.size >= 2, "use append for single-field specs")
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "_delta_log").mkdirs()
    require(!df.isEmpty, "append of an empty DataFrame is not a commit")
    // mapped tables stamp PHYSICAL parquet names (spec FIELDS cannot
    // rename — the SQL route refuses — so the transform columns and
    // their component keys stay stable under any mapping)
    val (dfW, _) = toPhysical(spark, tableDir, df, None)
    val moved = stageParquetMulti(spark, tableDir, dfW, partFields, "w")
    require(moved.nonEmpty, "append of an empty DataFrame is not a commit")
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val version = nextVersion(tableDir)
      val lines = Seq.newBuilder[String]
      if (version == 0) {
        lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        val pcols = partFields
          .map { case (c, tr) => s""""${componentKey(c, tr)}"""" }
          .mkString(",")
        lines += s"""{"metaData":{"id":"00000000-0000-0000-0000-000000000002","format":{"provider":"parquet"},"partitionColumns":[$pcols],"schemaString":${mapper.writeValueAsString(df.schema.json)}}}"""
      }
      moved.foreach { case (rel, pv) =>
        lines += s"""{"add":{"path":"$rel","partitionValues":{${pvJson(pv)}},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":true}}"""
      }
      if (casWriteCommit(tableDir, version, lines.result())) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"append lost $MaxCommitRetries version races — giving up")
      }
    }
    committed
  }

  /** CAS publish of one commit version: hard-link a staged temp onto
    * `NNN.json` — atomically FAILS when another writer already owns the
    * version (POSIX rename would silently replace it: a lost update).
    * This is the protocol's "only one writer may create version N"
    * rule, the file-system spelling of the LogStore's
    * put-if-absent. Returns false on conflict. */
  private def casWriteCommit(tableDir: String, version: Long,
                             lines: Seq[String]): Boolean = {
    val logDir = java.nio.file.Paths.get(tableDir, "_delta_log")
    val tmp = logDir.resolve(s".commit-${nextToken()}.tmp")
    java.nio.file.Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    try {
      java.nio.file.Files.createLink(logDir.resolve(f"$version%020d.json"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Single-shot commit for the non-append operations (row/partition
    * deletes, optimize): these read table state to build their
    * actions, so a version conflict means the state moved under them —
    * fail loudly (the protocol's ConcurrentModificationException)
    * instead of retrying with stale reads. */
  private def writeCommit(tableDir: String, version: Long,
                          lines: Seq[String]): Unit =
    require(casWriteCommit(tableDir, version, lines),
      s"commit $version conflicts with a concurrent writer — re-read " +
        "the table state and retry the operation")

  private def maybeCheckpoint(spark: SparkSession, tableDir: String,
                              version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0)
      DeltaLite.writeCheckpoint(spark, tableDir, version)

  /** Append under COLUMN MAPPING mode `name` (PROTOCOL.md "Column
    * Mapping"): parquet files store PHYSICAL column names
    * (deterministic `col_<id>` here; real writers mint UUIDs) and the
    * metaData's schemaString carries the logical→physical map in field
    * metadata, which [[DeltaLite.readVersion]] uses to rename on read.
    * On an existing mapped table the established physical names are
    * reused — renaming a LOGICAL column later would need only a
    * metaData commit, never a data rewrite, which is the point of the
    * feature. Partition values are keyed by the physical name, per the
    * protocol. */
  def appendMapped(spark: SparkSession, tableDir: String, df: DataFrame,
                   partCol: Option[String] = None): Long = {
    import org.apache.spark.sql.types._
    val mappedSchema: StructType =
      DeltaLite.tableSchemaString(spark, tableDir) match {
        case Some(ss) => DataType.fromJson(ss).asInstanceOf[StructType]
        case None => StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", i + 1L)
            .putString("delta.columnMapping.physicalName", s"col_${i + 1}")
            .build())
        })
      }
    val phys = mappedSchema.fields.map(f =>
      f.name -> f.metadata.getString("delta.columnMapping.physicalName")).toMap
    require(df.columns.forall(phys.contains),
      s"columns ${df.columns.mkString(",")} must match the mapped schema ${phys.keys}")
    val dfPhys = df.select(df.columns.toSeq.map(c => col(c).as(phys(c))): _*)
    // COLUMN MAPPING requires protocol reader 2 / writer 5
    // (PROTOCOL.md "Column Mapping") — stamped on table creation, or
    // as an upgrade action when mapping lands on an existing table
    val protoLine = currentProtocol(spark, tableDir) match {
      case Some((rv, wv, _, _)) if rv >= 2 && wv >= 5 => None
      case _ => Some("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
    }
    append(spark, tableDir, dfPhys, partCol.map(phys),
      protocolLine = protoLine,
      metaDataJson = Some {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val md = m.createObjectNode()
        md.put("id", "00000000-0000-0000-0000-000000000003")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", mappedSchema.json)
        val pc = md.putArray("partitionColumns")
        partCol.foreach(p => pc.add(phys(p)))
        md.putObject("configuration")
          .put("delta.columnMapping.mode", "name")
        s"""{"metaData":${m.writeValueAsString(md)}}"""
      })
  }

  /** Exactly-once streaming sink via the protocol's `txn` action
    * (PROTOCOL.md "Transaction Identifiers" — the real Delta mechanism
    * for idempotent streaming writes): each micro-batch commit carries
    * {appId, version=batchId}; a redelivered batch whose version is
    * already recorded for the app — in a checkpoint's txn rows or the
    * JSON tail — is skipped. The Delta sibling of
    * [[IcebergWriter.appendBatch]]. */
  def appendBatch(spark: SparkSession, tableDir: String, df: DataFrame,
                  appId: String, batchId: Long,
                  partCol: Option[String] = None): Option[Long] =
    if (DeltaLite.lastTxnVersion(spark, tableDir, appId).exists(_ >= batchId)) None
    else {
      // the txn watermark is ALSO re-checked inside append's retry
      // loop — two sinks racing the same redelivered batch must not
      // both commit after CAS retries
      val v = append(spark, tableDir, df, partCol, txn = Some((appId, batchId)))
      if (v < 0) None else Some(v)
    }

  /** Append `df` as one commit, creating the table on first use.
    * Returns the committed version. */
  /** Bounded optimistic retries for append commits (the protocol's
    * disjoint-append rule: an append conflicts with nothing, so losing
    * the version race only means re-stamping the commit). */
  val MaxCommitRetries = 10

  def append(spark: SparkSession, tableDir: String, df: DataFrame,
             partCol: Option[String] = None,
             metaDataJson: Option[String] = None,
             txn: Option[(String, Long)] = None,
             protocolLine: Option[String] = None,
             beforePublish: () => Unit = () => (),
             filesPerPart: Int = 1,
             partTransform: String = "identity"): Long = {
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "_delta_log").mkdirs()
    val tok = nextToken()

    require(!df.isEmpty, "append of an empty DataFrame is not a commit")
    // data staged ONCE under token names (version-free: a retried
    // commit re-stamps metadata only, never rewrites data)
    val staging = s"$tableDir/stage_$tok"
    partCol match {
      case Some(p) if filesPerPart > 1 =>
        // hot-partition split, the Iceberg writer's spelling: a
        // content-hash salt with an explicit partition count (AQE must
        // not re-merge the groups)
        val n = math.max(filesPerPart,
          df.sparkSession.sessionState.conf.numShufflePartitions)
        df.withColumn("__part", partExpr(df, p, partTransform))
          .withColumn("__salt",
            pmod(hash(df.columns.map(col): _*), lit(filesPerPart)))
          .repartition(n, col("__part"), col("__salt"))
          .drop("__salt")
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case Some(p) =>
        df.withColumn("__part", partExpr(df, p, partTransform))
          .repartition(col("__part"))
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case None if filesPerPart > 1 =>
        df.repartition(filesPerPart)
          .write.mode("overwrite").parquet(staging)
      case None =>
        df.write.mode("overwrite").parquet(staging)
    }
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val moved = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val part = f.getParentFile.getName match {
          case n if n.startsWith("__part=") => Some(n.stripPrefix("__part="))
          case _ => None
        }
        val rel = s"data/w${tok}_${part.map(p => s"${p}_").getOrElse("")}$j.parquet"
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, rel).toPath)
        (rel, part)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(moved.nonEmpty, "append of an empty DataFrame is not a commit")

    // optimistic commit loop: version re-resolved per attempt, CAS on
    // the commit file name, bounded retries
    var attempt = 0
    var committed = -1L
    var skippedTxn = false
    while (committed < 0 && !skippedTxn) {
      val version = nextVersion(tableDir)
      // exactly-once re-check on EVERY iteration, including attempt 0:
      // a concurrent sink may commit the same batch between the
      // caller's pre-check and this writer's first CAS — without the
      // attempt-0 check that race commits the batch twice (the CAS
      // targets a fresh version and succeeds without conflict)
      if (txn.exists { case (appId, v) =>
          DeltaLite.lastTxnVersion(spark, tableDir, appId).exists(_ >= v) }) {
        skippedTxn = true
      } else {
      // a CREATION payload (mapped schema, custom protocol) must not
      // silently vanish when another writer creates the table first —
      // the loser's files would disagree with the winner's metaData
      require(attempt == 0 || version == 0 ||
          (metaDataJson.isEmpty && protocolLine.isEmpty),
        "table-creation commit lost the version race — re-run against " +
          "the now-existing table so the metadata payload re-resolves")
      val lines = Seq.newBuilder[String]
      if (version == 0) {
        lines += protocolLine.getOrElse(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        // the creation metaData carries the REAL schemaString (the
        // protocol's contract) — what empty reads after a TRUNCATE and
        // schema evolution resolve against
        lines += metaDataJson.getOrElse(
          s"""{"metaData":{"id":"00000000-0000-0000-0000-000000000002","format":{"provider":"parquet"},"partitionColumns":[${partCol.map(p => s""""$p"""").getOrElse("")}],"schemaString":${mapper.writeValueAsString(df.schema.json)}}}""")
      } else protocolLine.foreach(lines += _) // protocol upgrade action
      txn.foreach { case (appId, v) =>
        lines += s"""{"txn":{"appId":"$appId","version":$v}}"""
      }
      moved.foreach { case (rel, part) =>
        val pv = part.map(p => s""""${partCol.get}":"$p"""").getOrElse("")
        lines += s"""{"add":{"path":"$rel","partitionValues":{$pv},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":true}}"""
      }
      if (attempt == 0) beforePublish()
      if (casWriteCommit(tableDir, version, lines.result())) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"append conflict persisted after $MaxCommitRetries attempts")
      }
      }
    }
    committed // -1 = txn version already committed by a concurrent sink
  }

  /** CREATE an EMPTY table (standard DDL: `CREATE TABLE t (cols...)`
    * with no AS SELECT): one version-0 commit carrying protocol +
    * metaData with the REAL schemaString and zero adds — the
    * protocol's natural empty-table state. Reads return a
    * declared-schema empty frame until the first append. */
  def createEmpty(spark: SparkSession, tableDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partCol: Option[String],
                  partFields: Seq[(String, String)] = Nil): Long = {
    require(nextVersion(tableDir) == 0, s"table already exists at $tableDir")
    new java.io.File(tableDir, "_delta_log").mkdirs()
    // a MULTI-FIELD spec declares its component keys as the partition
    // columns (what appendMultiSpec stamps per add action)
    val pcols =
      if (partFields.size > 1)
        partFields.map { case (c, tr) => s""""${componentKey(c, tr)}"""" }
          .mkString(",")
      else partCol.map(p => s""""$p"""").getOrElse("")
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"00000000-0000-0000-0000-000000000002","format":{"provider":"parquet"},"partitionColumns":[$pcols],"schemaString":${mapper.writeValueAsString(schema.json)}}}""")
    require(casWriteCommit(tableDir, 0, lines),
      "empty-table creation lost a race with a concurrent writer")
    0L
  }

  /** TRUNCATE TABLE: ONE commit tombstoning every live add
    * (dataChange = true) — all rows gone atomically; old versions
    * travel until vacuum reclaims the bytes. No-op (returns -1) on an
    * already-empty table, standard SQL. */
  def truncate(spark: SparkSession, tableDir: String): Long = {
    val old = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    if (old.isEmpty) return -1L
    require(DeltaLite.tableSchemaString(spark, tableDir).exists(_ != "{}"),
      "TRUNCATE needs a declared schemaString — this log predates schema " +
        "declaration; rewrite the table first")
    val version = nextVersion(tableDir)
    val lines = old.map { a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + version},"dataChange":true}}"""
    }
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** INSERT OVERWRITE: replace the table's entire live content with
    * `df` in ONE atomic commit — remove tombstones for every current
    * add plus the new files' adds (the protocol's overwrite shape; a
    * reader sees the old state or the new, never a mix, unlike a
    * delete-then-append pair). Old files stay on disk for time travel
    * until vacuum. Conflicts fail loudly (an overwrite racing any
    * concurrent commit is a real write-write conflict). */
  def overwrite(spark: SparkSession, tableDir: String, dfIn: DataFrame,
                partColIn: Option[String] = None,
                partTransform: String = "identity"): Long = {
    // planAdds is loud on an UNKNOWN table (no commits at all); an
    // EXISTING empty table (created empty / truncated) overwrites fine
    // — zero removes, the new adds, one commit
    val old = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    // mapped tables store PHYSICAL names (see toPhysical)
    val (df, partCol) = toPhysical(spark, tableDir, dfIn, partColIn)
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "data").mkdirs() // absent on created-empty tables
    val tok = nextToken()
    val staging = s"$tableDir/stage_$tok"
    partCol match {
      case Some(p) =>
        df.withColumn("__part", partExpr(df, p, partTransform))
          .repartition(col("__part"))
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case None => df.write.mode("overwrite").parquet(staging)
    }
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val moved = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val part = f.getParentFile.getName match {
          case n if n.startsWith("__part=") => Some(n.stripPrefix("__part="))
          case _ => None
        }
        val rel = s"data/ov${tok}_${part.map(p => s"${p}_").getOrElse("")}$j.parquet"
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, rel).toPath)
        (rel, part)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(moved.nonEmpty, "overwrite with an empty DataFrame is not a commit")
    val version = nextVersion(tableDir)
    val lines =
      old.map { a =>
        s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + version},"dataChange":true}}"""
      } ++ moved.map { case (rel, part) =>
        val pv = part.map(p => s""""${partCol.get}":"$p"""").getOrElse("")
        s"""{"add":{"path":"$rel","partitionValues":{$pv},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":true}}"""
      }
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** RENAME COLUMN (PROTOCOL.md "Column Mapping" — the feature's whole
    * point): one metaData commit changing the LOGICAL field name; the
    * physical parquet name and every data byte stay untouched, and
    * reads rename on the fly. An UNMAPPED table upgrades to column
    * mapping in the same commit — each existing column's physical name
    * is fixed to its CURRENT name (exactly what the data files store),
    * plus the protocol upgrade the mapping requires (feature-composed
    * when the table already speaks reader 3 / writer 7). */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Long = {
    import org.apache.spark.sql.types._
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      // schema re-derived PER ATTEMPT: a retry after losing to a
      // concurrent metaData commit (another ADD/RENAME) must evolve the
      // WINNER's schema, not silently re-commit the stale one
      val mapping = DeltaLite.columnMapping(spark, tableDir)
      val cur: StructType = DeltaLite.tableSchemaString(spark, tableDir)
        .flatMap(ss => scala.util.Try(DataType.fromJson(ss)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(DeltaLite.readVersion(spark, tableDir).schema)
      require(cur.fieldNames.contains(from), s"no column $from")
      require(!cur.fieldNames.contains(to), s"column $to already exists")
      val lines = Seq.newBuilder[String]
      val mappedCur: StructType =
        if (mapping.nonEmpty) cur
        else {
          // column-mapping UPGRADE: physical = current names; protocol
          // gains the mapping capability without losing table features
          currentProtocol(spark, tableDir) match {
            case Some((rv, wv, rf, wf)) if rv >= 3 || wv >= 7 =>
              val readerF = (legacyReaderFeatures(rv) ++ rf ++
                Seq("columnMapping")).distinct.sorted
              val writerF = (legacyWriterFeatures(wv) ++ wf ++
                Seq("columnMapping")).distinct.sorted
              lines += s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[${readerF.map(f => s""""$f"""").mkString(",")}],"writerFeatures":[${writerF.map(f => s""""$f"""").mkString(",")}]}}"""
            case Some((rv, wv, _, _)) if rv >= 2 && wv >= 5 => ()
            case _ =>
              lines += """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
          }
          StructType(cur.fields.zipWithIndex.map { case (f, i) =>
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", f.name)
              .build())
          })
        }
      val evolved = StructType(mappedCur.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val md = latestMetaDataNode(spark, tableDir).get
      md.put("schemaString", evolved.json)
      if (mapping.isEmpty) {
        val conf =
          if (md.has("configuration") && md.get("configuration").isObject)
            md.get("configuration")
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          else md.putObject("configuration")
        conf.put("delta.columnMapping.mode", "name")
      }
      lines += s"""{"metaData":${mapper.writeValueAsString(md)}}"""
      val version = nextVersion(tableDir)
      if (casWriteCommit(tableDir, version, lines.result())) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"RENAME conflict persisted after $MaxCommitRetries attempts")
      }
    }
    committed
  }

  /** DROP COLUMN: one metaData commit whose schemaString omits the
    * field — no data movement; declared-schema reads never touch the
    * stored bytes (on mapped tables the physical column stays in the
    * parquet, unread). The partition column cannot drop. */
  def dropColumn(spark: SparkSession, tableDir: String, name: String): Long = {
    import org.apache.spark.sql.types._
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      val cur: StructType = DeltaLite.tableSchemaString(spark, tableDir)
        .flatMap(ss => scala.util.Try(DataType.fromJson(ss)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(DeltaLite.readVersion(spark, tableDir).schema)
      require(cur.fieldNames.contains(name), s"no column $name")
      require(cur.fields.length > 1, "cannot drop the last column")
      val md = latestMetaDataNode(spark, tableDir).getOrElse {
        val m = mapper.createObjectNode()
        m.put("id", "00000000-0000-0000-0000-000000000002")
        m.putObject("format").put("provider", "parquet")
        m.putArray("partitionColumns")
        m
      }
      // the partition column's name in metaData is PHYSICAL on mapped
      // tables — guard against dropping it under either spelling
      val physName = DeltaLite.columnMapping(spark, tableDir).toMap
        .getOrElse(name, name)
      val pcs = Option(md.get("partitionColumns")).toSeq
        .flatMap(a => (0 until a.size).map(a.get(_).asText))
      require(!pcs.contains(physName) && !pcs.contains(name),
        s"cannot drop partition column $name")
      val evolved = StructType(cur.fields.filterNot(_.name == name))
      md.put("schemaString", evolved.json)
      val version = nextVersion(tableDir)
      if (casWriteCommit(tableDir, version,
          Seq(s"""{"metaData":${mapper.writeValueAsString(md)}}"""))) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"DROP COLUMN conflict persisted after $MaxCommitRetries attempts")
      }
    }
    committed
  }

  /** ADD COLUMN schema evolution (PROTOCOL.md "Schema Serialization
    * Format"): one metaData-only commit whose schemaString appends the
    * new NULLABLE field — no data movement; files written before the
    * column appeared read it as NULL ([[DeltaLite.readVersion]] plans
    * the scan with the declared schema, which null-fills missing
    * columns natively — no mergeSchema footer sweep at 100 TB).
    * Returns the committed version. */
  def addColumn(spark: SparkSession, tableDir: String,
                name: String, sqlType: String): Long = {
    import org.apache.spark.sql.types._
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(sqlType)
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      // schema re-derived PER ATTEMPT (see renameColumn): losing the
      // version race to a concurrent ADD COLUMN must not revert it
      val cur: StructType = DeltaLite.tableSchemaString(spark, tableDir)
        .map(ss => DataType.fromJson(ss).asInstanceOf[StructType])
        .getOrElse(DeltaLite.readVersion(spark, tableDir).schema)
      require(!cur.fieldNames.contains(name), s"column $name already exists")
      // on a MAPPED table the new field gets the next mapping id and
      // its own name as physical (fresh name — no clash possible)
      val mapping = DeltaLite.columnMapping(spark, tableDir)
      val newField =
        if (mapping.isEmpty) StructField(name, dt, nullable = true)
        else {
          val nextId = cur.fields.map(f =>
            if (f.metadata.contains("delta.columnMapping.id"))
              f.metadata.getLong("delta.columnMapping.id") else 0L)
            .foldLeft(0L)(math.max) + 1
          StructField(name, dt, nullable = true,
            metadata = new MetadataBuilder()
              .putLong("delta.columnMapping.id", nextId)
              .putString("delta.columnMapping.physicalName", name).build())
        }
      val evolved = StructType(cur.fields :+ newField)
      // carry the current metaData forward with only schemaString changed
      val md = latestMetaDataNode(spark, tableDir).getOrElse {
        val m = mapper.createObjectNode()
        m.put("id", "00000000-0000-0000-0000-000000000002")
        m.putObject("format").put("provider", "parquet")
        m.putArray("partitionColumns")
        m
      }
      md.put("schemaString", evolved.json)
      val version = nextVersion(tableDir)
      if (casWriteCommit(tableDir, version,
          Seq(s"""{"metaData":${mapper.writeValueAsString(md)}}"""))) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"ADD COLUMN conflict persisted after $MaxCommitRetries attempts")
      }
    }
    committed
  }

  /** ALTER COLUMN TYPE widening: one metaData commit re-typing the
    * field (sanctioned promotions only) — metadata-only; declared-
    * schema scans up-cast pre-widening parquet natively. The schema
    * re-derives per CAS attempt like [[addColumn]]. */
  def widenColumn(spark: SparkSession, tableDir: String,
                  name: String, sqlType: String): Long = {
    import org.apache.spark.sql.types._
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(sqlType)
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      val cur: StructType = DeltaLite.tableSchemaString(spark, tableDir)
        .map(ss => DataType.fromJson(ss).asInstanceOf[StructType])
        .getOrElse(DeltaLite.readVersion(spark, tableDir).schema)
      val f = cur.fields.find(_.name == name)
        .getOrElse(sys.error(s"no column $name"))
      TypeWiden.check(name, f.dataType, dt)
      val evolved = StructType(cur.fields.map(fl =>
        if (fl.name == name) fl.copy(dataType = dt) else fl))
      val md = latestMetaDataNode(spark, tableDir).getOrElse(
        sys.error("ALTER COLUMN TYPE on a table without metaData"))
      md.put("schemaString", evolved.json)
      // PROTOCOL.md: widened schemas require the typeWidening table
      // feature — composed into the SAME commit on first use, like the
      // deletionVectors upgrade
      val protoAction = featureProtocolUpgrade(spark, tableDir, "typeWidening")
      val version = nextVersion(tableDir)
      if (casWriteCommit(tableDir, version, protoAction.toSeq :+
          s"""{"metaData":${mapper.writeValueAsString(md)}}""")) {
        maybeCheckpoint(spark, tableDir, version)
        committed = version
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"ALTER COLUMN TYPE conflict persisted after $MaxCommitRetries attempts")
      }
    }
    committed
  }

  /** VALUE-REWRITING type change (the reference's rewrite-tier schema
    * change, SchemaChangeHandler's non-LIGHT path; sanctioned cases in
    * [[TypeWiden.retypeOk]]): every live row rewrites with the column
    * cast to the new type, and the new-schema metaData action, the
    * removes of every old file and the new files' adds land in ONE
    * atomic commit — a reader sees the old (schema, data) pair or the
    * new, never a mix, and a crash between halves cannot happen. The
    * remove/add pair carries dataChange=false: the logical row set is
    * unchanged (state motion), so the change feed stays quiet, like a
    * compaction. */
  def retypeColumn(spark: SparkSession, tableDir: String,
                   name: String, sqlType: String,
                   partCol: Option[String],
                   partTransform: String = "identity"): Long = {
    import org.apache.spark.sql.types._
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(sqlType)
    val cur: StructType = DeltaLite.tableSchemaString(spark, tableDir)
      .map(ss => DataType.fromJson(ss).asInstanceOf[StructType])
      .getOrElse(DeltaLite.readVersion(spark, tableDir).schema)
    val f = cur.fields.find(_.name == name)
      .getOrElse(sys.error(s"no column $name"))
    require(TypeWiden.retypeOk(f.dataType, dt),
      s"cannot retype $name from ${f.dataType.simpleString} to " +
        s"${dt.simpleString} — sanctioned rewrites: integral -> string, " +
        "integer-digit-preserving decimal scale growth")
    val old = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    // an EMPTY table (created empty / truncated) retypes metadata-only
    val (moved, partColW) =
      if (old.isEmpty) (Nil, partCol)
      else {
        val rows = DeltaLite.readVersion(spark, tableDir)
          .withColumn(name, col(name).cast(dt))
        val (df, pw) = toPhysical(spark, tableDir, rows, partCol)
        (stageParquet(spark, tableDir, df, pw, "rt", partTransform), pw)
      }
    val evolved = StructType(cur.fields.map(fl =>
      if (fl.name == name) fl.copy(dataType = dt) else fl))
    val md = latestMetaDataNode(spark, tableDir).getOrElse(
      sys.error("retype on a table without metaData"))
    md.put("schemaString", evolved.json)
    val version = nextVersion(tableDir)
    val dir = new java.io.File(tableDir)
    val lines = Seq(s"""{"metaData":${mapper.writeValueAsString(md)}}""") ++
      old.map { a =>
        s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + version},"dataChange":false}}"""
      } ++ moved.map { case (rel, part) =>
        val pv = part.map(p => s""""${partColW.get}":"$p"""").getOrElse("")
        s"""{"add":{"path":"$rel","partitionValues":{$pv},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":false}}"""
      }
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** The scan every DML matcher sees: declared (physical-named) schema
    * planned explicitly when one exists — pre-evolution files null-fill
    * — then aliased to the LOGICAL names the matcher speaks, keeping
    * `__fp`/`__pos`. */
  private def logicalScan(spark: SparkSession, tableDir: String,
                          paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val mapping = DeltaLite.columnMapping(spark, tableDir)
    val physDeclared: Option[StructType] =
      DeltaLite.tableSchemaString(spark, tableDir)
        .flatMap(ss => scala.util.Try(DataType.fromJson(ss)).toOption)
        .collect { case st: StructType =>
          val phys = mapping.toMap
          StructType(st.fields.map(f =>
            f.copy(name = phys.getOrElse(f.name, f.name),
              metadata = Metadata.empty)))
        }
    val raw = LakeFiles.scan(spark, paths, physDeclared)
    val base = raw
      .withColumn("__fp", LakeFiles.pathCol)
      .withColumn("__pos", col("_metadata.row_index"))
    if (mapping.isEmpty) base
    else base.select(mapping.map { case (l, p) => col(p).as(l) } ++
      Seq(col("__fp"), col("__pos")): _*)
  }

  /** logical → physical rename of `df` plus the physical partition
    * column name, for writers on MAPPED tables (no-ops when unmapped). */
  private def toPhysical(spark: SparkSession, tableDir: String,
                         df: DataFrame, partCol: Option[String])
      : (DataFrame, Option[String]) = {
    val phys = DeltaLite.columnMapping(spark, tableDir).toMap
    if (phys.isEmpty) (df, partCol)
    else (df.select(df.columns.toSeq.map(c =>
      col(c).as(phys.getOrElse(c, c))): _*),
      partCol.map(c => phys.getOrElse(c, c)))
  }

  /** The latest metaData action as a mutable node (JSON tail wins over
    * the checkpoint row). */
  private def latestMetaDataNode(spark: SparkSession, tableDir: String)
      : Option[com.fasterxml.jackson.databind.node.ObjectNode] = {
    var found: Option[com.fasterxml.jackson.databind.node.ObjectNode] = None
    val logDir = new java.io.File(tableDir, "_delta_log")
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .foreach { f =>
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.has("metaData"))
              found = Some(node.get("metaData")
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
          }
        }
      }
    found
  }

  /** ROW-LEVEL DELETE via deletion vectors (PROTOCOL.md "Deletion
    * Vectors"): mark matching row positions deleted WITHOUT rewriting
    * any parquet. One distributed scan finds the matching
    * (file, row_index) pairs and aggregates them per file; the roaring
    * DV blob for each file is built EXECUTOR-SIDE in the task owning
    * that file's group (unioned with the file's existing DV — decoded
    * there too, from the metadata-sized broadcast of descriptors), and
    * each task writes its own `.bin` DV shard. Only the
    * descriptor-sized (file, dvPath, offset, size, cardinality) rows
    * return to the driver — a broad delete on a 100 TB table holds
    * O(affected files) driver state, never O(deleted rows). That is
    * the reference's contract too: delete bitmaps are computed
    * distributed, per tablet
    * (be/src/storage/delete/delete_bitmap_calculator.h). The commit
    * re-adds each affected file with its descriptor after a remove —
    * the protocol's DV-update shape — and upgrades the protocol to
    * reader 3 / writer 7 + deletionVectors features on first use.
    * Returns the committed version. */
  def deleteRows(spark: SparkSession, tableDir: String,
                 cond: org.apache.spark.sql.Column): Long =
    deleteRowsWhere(spark, tableDir, _.filter(cond))

  /** [[deleteRows]] generalized to a MATCHER over the scan (all table
    * columns plus `__fp`/`__pos`, which must survive): the MERGE INTO
    * route deletes "rows matched by the source join", which no single
    * Column predicate can express. The matcher's output rows mark the
    * positions to delete; everything downstream (per-file DV union,
    * executor-side blobs, descriptor-only driver state) is unchanged.
    *
    * `partFilter` prunes the TARGET scan at file level — a DML
    * statement whose WHERE carries a provable partition conjunct plans
    * one partition's files, not every live add (sound because rows
    * outside those files cannot satisfy the statement's predicate). */
  def deleteRowsWhere(spark: SparkSession, tableDir: String,
                      matcher: DataFrame => DataFrame,
                      partFilter: Option[Map[String, String] => Boolean] = None)
      : Long = {
    val adds = DeltaLite.planAddsWithCheckpoint(spark, tableDir, None, partFilter)
    require(adds.nonEmpty,
      if (partFilter.isDefined) "deleteRows matched no rows" else "empty table")
    val protoUpgrade = dvProtocolUpgrade(spark, tableDir)
    val version = nextVersion(tableDir)
    val lines = protoUpgrade.toSeq ++
      dvRemoveAddLines(spark, tableDir, matcher, adds, version,
        requireMatch = true)
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** UPDATE / MERGE write half, ONE ATOMIC COMMIT: the matched rows'
    * deletion-vector re-adds AND the new rows' add actions land in a
    * single version — a reader sees the pre-statement state or the
    * post-statement state, never matched-rows-gone-updates-missing,
    * and a crash between the halves cannot lose the updates (the same
    * all-or-nothing shape [[overwrite]] already has; reference: the
    * dedicated merge sink commits once,
    * be/src/exec/operator/iceberg_merge_sink_operator.h:44). Conflicts
    * fail loudly, like every state-reading commit here. */
  def updateRows(spark: SparkSession, tableDir: String,
                 matcher: DataFrame => DataFrame, newRows: DataFrame,
                 partCol: Option[String] = None,
                 partFilter: Option[Map[String, String] => Boolean] = None,
                 partTransform: String = "identity",
                 partFields: Seq[(String, String)] = Nil)
      : Long = {
    val adds = DeltaLite.planAddsWithCheckpoint(spark, tableDir, None, partFilter)
    require(adds.nonEmpty, "updateRows matched no live files")
    // mapped tables store PHYSICAL names: replacement rows rename
    // before staging, and partition values key by the physical name
    val (newRowsW, partColW) = toPhysical(spark, tableDir, newRows, partCol)
    // new data staged BEFORE the version resolves (version-free names);
    // a MULTI-FIELD spec re-lands replacements under the full
    // component map, like every append on the table
    val moved: Seq[(String, Map[String, String])] =
      if (partFields.size > 1)
        stageParquetMulti(spark, tableDir, newRowsW, partFields, "u")
      else stageParquet(spark, tableDir, newRowsW, partColW, "u",
        partTransform).map { case (rel, part) =>
          (rel, part.map(p => partColW.get -> p).toMap) }
    require(moved.nonEmpty, "updateRows with no replacement rows — use deleteRowsWhere")
    val protoUpgrade = dvProtocolUpgrade(spark, tableDir)
    val version = nextVersion(tableDir)
    val dir = new java.io.File(tableDir)
    val lines = protoUpgrade.toSeq ++
      dvRemoveAddLines(spark, tableDir, matcher, adds, version,
        requireMatch = true) ++
      moved.map { case (rel, pv) =>
        s"""{"add":{"path":"$rel","partitionValues":{${pvJson(pv)}},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":true}}"""
      }
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** Stage `df` as parquet under `data/` with token (version-free)
    * names; returns (relativePath, partitionValue) per file. The
    * distributed half of every commit here. */
  private def stageParquet(spark: SparkSession, tableDir: String,
                           df: DataFrame, partCol: Option[String],
                           prefix: String,
                           partTransform: String = "identity")
      : Seq[(String, Option[String])] = {
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "data").mkdirs()
    val tok = nextToken()
    val staging = s"$tableDir/stage_$tok"
    partCol match {
      case Some(p) =>
        df.withColumn("__part", partExpr(df, p, partTransform))
          .repartition(col("__part"))
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case None => df.write.mode("overwrite").parquet(staging)
    }
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val moved = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val part = f.getParentFile.getName match {
          case n if n.startsWith("__part=") => Some(n.stripPrefix("__part="))
          case _ => None
        }
        val rel = s"data/$prefix${tok}_${part.map(p => s"${p}_").getOrElse("")}$j.parquet"
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, rel).toPath)
        (rel, part)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    moved
  }

  /** The remove + DV-re-add action lines for every file the matcher
    * hits: one distributed scan over `adds` finds matching
    * (file, row_index) pairs; roaring blobs build EXECUTOR-SIDE per
    * task (unioned with each file's existing DV) and only the
    * descriptor-sized rows return to the driver. */
  private def dvRemoveAddLines(spark: SparkSession, tableDir: String,
                               matcher: DataFrame => DataFrame,
                               adds: Seq[DeltaLite.AddFile], version: Long,
                               requireMatch: Boolean): Seq[String] = {
    // keyed as the matcher's `__fp` spells each path
    val byAbs = adds.map(a =>
      LakeFiles.key(new java.io.File(tableDir, a.path).getAbsolutePath) -> a).toMap
    val dvDir = new java.io.File(tableDir, "deletion_vectors")
    dvDir.mkdirs()
    val dvDirAbs = dvDir.getAbsolutePath
    // existing DV descriptors ship to tasks (metadata-sized); the
    // positions they point at are decoded where the union is built
    val bcDv = spark.sparkContext.broadcast(
      byAbs.collect { case (abs, a) if a.dv.isDefined => abs -> a.dv.get })
    import spark.implicits._
    val descriptors: Seq[(String, String, Int, Int, Long)] =
      matcher(logicalScan(spark, tableDir, adds.map(a => s"$tableDir/${a.path}")))
        .select(col("__fp"), col("__pos"))
        .groupBy(col("__fp"))
        .agg(sort_array(collect_set(col("__pos"))).as("__poss"))
        .as[(String, Seq[Long])]
        .mapPartitions { it =>
          val rows = it.toVector
          if (rows.isEmpty) Iterator.empty
          else {
            // the shard name carries the task ATTEMPT id: under
            // speculative execution two attempts of the same partition
            // run concurrently, and a shared name would interleave
            // their appends into one corrupt blob. Each attempt owns
            // its file; only the winning attempt's descriptors reach
            // the driver, losers leave unreferenced files vacuum sweeps.
            val tc = org.apache.spark.TaskContext.get()
            val dvPath =
              s"$dvDirAbs/dv-$version-p${tc.partitionId()}-a${tc.taskAttemptId()}.bin"
            val blobs = rows.map { case (fp, newPos) =>
              val existing = bcDv.value.get(fp).map { d =>
                d.storageType match {
                  case "i" => DeltaDv.dvBlobPositions(DeltaDv.z85Decode(d.pathOrInlineDv))
                  case "p" => DeltaDv.readDvFile(d.pathOrInlineDv, d.offset, d.sizeInBytes)
                }
              }.getOrElse(Nil)
              val union = (existing ++ newPos).distinct.sorted
              (fp, DeltaDv.dvBlob(union), union.size.toLong)
            }
            val frames = DeltaDv.writeDvFile(dvPath, blobs.map(_._2))
            blobs.zip(frames).map { case ((fp, _, card), (off, size)) =>
              (fp, dvPath, off, size, card)
            }.iterator
          }
        }.collect().toSeq.sortBy(_._1)
    require(!requireMatch || descriptors.nonEmpty, "deleteRows matched no rows")
    descriptors.flatMap { case (abs, dvPath, off, size, card) =>
      val add = byAbs(abs)
      val pv = add.partitionValues
        .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      val bytes = new java.io.File(tableDir, add.path).length()
      Seq(
        s"""{"remove":{"path":"${add.path}","deletionTimestamp":${1700000000000L + version},"dataChange":true}}""",
        s"""{"add":{"path":"${add.path}","partitionValues":{$pv},"size":$bytes,"modificationTime":${1700000000000L + version},"dataChange":true,"deletionVector":{"storageType":"p","pathOrInlineDv":"$dvPath","offset":$off,"sizeInBytes":$size,"cardinality":$card}}}""")
    }
  }

  /** OPTIMIZE-style rewrite: materialize the current state (deletion
    * vectors applied) into fresh compacted files — one per identity
    * partition value — and commit removes of every old file plus adds
    * of the new, DV-free ones. This is the DV lifecycle's purge step:
    * reads stop paying the anti-join, and the superseded files become
    * reclaimable at vacuum. Old versions still time travel (nothing is
    * physically deleted here). */
  def optimize(spark: SparkSession, tableDir: String,
               partColIn: Option[String] = None,
               partTransform: String = "identity",
               partFields: Seq[(String, String)] = Nil): Long = {
    val old = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    require(old.nonEmpty, "empty table")
    // readVersion yields LOGICAL names; compacted files must store the
    // PHYSICAL ones on mapped tables
    val (state, partCol) =
      toPhysical(spark, tableDir, DeltaLite.readVersion(spark, tableDir), partColIn)
    val version = nextVersion(tableDir)
    val dir = new java.io.File(tableDir)
    // a MULTI-FIELD spec re-stamps the full component map on the
    // compacted files — OPTIMIZE must not cost the table its pruning
    if (partFields.size > 1) {
      val moved = stageParquetMulti(spark, tableDir, state, partFields, "o")
      require(moved.nonEmpty, "optimize produced no files")
      val lines =
        old.map { a =>
          s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + version},"dataChange":false}}"""
        } ++ moved.map { case (rel, pv) =>
          s"""{"add":{"path":"$rel","partitionValues":{${pvJson(pv)}},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":false}}"""
        }
      writeCommit(tableDir, version, lines)
      maybeCheckpoint(spark, tableDir, version)
      return version
    }
    val staging = s"$tableDir/stage_v$version"
    partCol match {
      case Some(p) =>
        state.withColumn("__part", partExpr(state, p, partTransform))
          .repartition(col("__part"))
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case None =>
        state.coalesce(1).write.mode("overwrite").parquet(staging)
    }
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val moved = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val part = f.getParentFile.getName match {
          case n if n.startsWith("__part=") => Some(n.stripPrefix("__part="))
          case _ => None
        }
        val rel = s"data/o${version}_${part.map(p => s"${p}_").getOrElse("")}$j.parquet"
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, rel).toPath)
        (rel, part)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(moved.nonEmpty, "optimize produced no files")
    val lines =
      old.map { a =>
        s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + version},"dataChange":false}}"""
      } ++ moved.map { case (rel, part) =>
        val pv = part.map(p => s""""${partCol.get}":"$p"""").getOrElse("")
        s"""{"add":{"path":"$rel","partitionValues":{$pv},"size":${new java.io.File(dir, rel).length()},"modificationTime":${1700000000000L + version},"dataChange":false}}"""
      }
    writeCommit(tableDir, version, lines)
    maybeCheckpoint(spark, tableDir, version)
    version
  }

  /** RESTORE the table to an earlier `version` (Delta's RESTORE TABLE
    * ... TO VERSION AS OF): one metadata commit that removes files the
    * target state lacks and re-adds the target's files with their
    * deletion vectors — no data movement, history preserved (the
    * restore itself is a new version, so it can be restored away).
    * Loudly refuses when a target file was vacuumed away. */
  def restore(spark: SparkSession, tableDir: String, version: Long): Long = {
    val target = DeltaLite.planAddsWithCheckpoint(spark, tableDir, Some(version))
    val current = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    require(target.nonEmpty, s"version $version has no live files")
    target.foreach { a =>
      require(new java.io.File(tableDir, a.path).exists(),
        s"cannot restore: ${a.path} was vacuumed away")
    }
    val curByPath = current.map(a => a.path -> a).toMap
    val tgtPaths = target.map(_.path).toSet
    val newVersion = nextVersion(tableDir)
    def dvJson(a: DeltaLite.AddFile): String = a.dv.map(d =>
      s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""").getOrElse("")
    val lines =
      current.filterNot(a => tgtPaths.contains(a.path)).map { a =>
        s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + newVersion},"dataChange":true}}"""
      } ++ target.filterNot(a => curByPath.get(a.path).contains(a)).flatMap { a =>
        val pv = a.partitionValues
          .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
        val add = s"""{"add":{"path":"${a.path}","partitionValues":{$pv},"size":${new java.io.File(tableDir, a.path).length()},"modificationTime":${1700000000000L + newVersion},"dataChange":true${dvJson(a)}}}"""
        // a path live in BOTH states but with a different DV needs the
        // remove first so the replay ends on the target descriptor
        if (curByPath.contains(a.path))
          Seq(s"""{"remove":{"path":"${a.path}","deletionTimestamp":${1700000000000L + newVersion},"dataChange":true}}""", add)
        else Seq(add)
      }
    require(lines.nonEmpty, s"table already at version $version's state")
    writeCommit(tableDir, newVersion, lines)
    maybeCheckpoint(spark, tableDir, newVersion)
    newVersion
  }

  /** VACUUM: physically delete every data file and DV blob file that
    * the CURRENT version no longer references — the reclaim step the
    * remove-tombstone and OPTIMIZE docs above defer to. Spelled with
    * retention 0 (delete immediately); the protocol's time-based
    * retention window only changes WHICH unreferenced files qualify,
    * not the mechanism. After vacuum, time travel to versions that
    * needed the reclaimed files fails loudly on the missing file —
    * exactly the documented Delta trade-off. Metadata-sized driver
    * work: the live set is the current adds list. Returns the deleted
    * absolute paths.
    *
    * Concurrent-append safety: [[append]] moves staged parquet into
    * `data/` BEFORE entering its commit CAS loop, so an
    * everything-not-live sweep racing an in-flight append would delete
    * its uncommitted files and let the append commit add actions
    * pointing at nothing. A file is therefore reclaimed only when it is
    * REFERENCED by some committed action in the visible log (a
    * superseded file) or older than `graceMillis` (an orphan from a
    * long-dead writer) — the same committed-files-only discipline
    * Iceberg/Hudi reclamation uses. */
  def vacuum(spark: SparkSession, tableDir: String,
             graceMillis: Long = 10 * 60 * 1000L): Seq[String] = {
    val adds = DeltaLite.planAddsWithCheckpoint(spark, tableDir)
    require(adds.nonEmpty, "empty table")
    val liveData = adds.map(a =>
      new java.io.File(tableDir, a.path).getAbsolutePath).toSet
    val liveDv = adds.flatMap(_.dv).filter(_.storageType == "p")
      .map(d => new java.io.File(d.pathOrInlineDv).getAbsolutePath).toSet
    // every path any COMMITTED action in the visible log references —
    // metadata-sized; an in-flight append's staged files are in neither
    // this set nor the live set, so they survive the sweep
    val referenced = Set.newBuilder[String]
    val logDir = new java.io.File(tableDir, "_delta_log")
    val lastCp = new java.io.File(logDir, "_last_checkpoint")
    if (lastCp.exists()) {
      val cv = mapper.readTree(java.nio.file.Files.readString(lastCp.toPath))
        .get("version").asLong
      spark.read.parquet(f"$tableDir/_delta_log/$cv%020d.checkpoint.parquet")
        .select("add").where("add IS NOT NULL").collect().foreach { row =>
          val a = row.getStruct(0)
          referenced += new java.io.File(tableDir,
            a.getString(a.fieldIndex("path"))).getAbsolutePath
        }
    }
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .foreach { f =>
        java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
          if (line.nonEmpty) {
            val node = mapper.readTree(line)
            Seq("add", "remove").foreach { k =>
              if (node.has(k) && node.get(k).has("path"))
                referenced += new java.io.File(tableDir,
                  node.get(k).get("path").asText).getAbsolutePath
            }
            if (node.has("add") && node.get("add").has("deletionVector")) {
              val d = node.get("add").get("deletionVector")
              if (d.get("storageType").asText == "p")
                referenced += new java.io.File(
                  d.get("pathOrInlineDv").asText).getAbsolutePath
            }
          }
        }
      }
    val refd = referenced.result()
    val cutoff = System.currentTimeMillis() - graceMillis
    val deleted = Seq.newBuilder[String]
    def sweep(d: java.io.File, live: Set[String]): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        val reclaimable = refd.contains(f.getAbsolutePath) ||
          f.lastModified() < cutoff
        if (f.isFile && !live.contains(f.getAbsolutePath) && reclaimable &&
            f.delete())
          deleted += f.getAbsolutePath
      }
    sweep(new java.io.File(tableDir, "data"), liveData)
    sweep(new java.io.File(tableDir, "deletion_vectors"), liveDv)
    deleted.result()
  }

  /** Remove every live file whose partition values satisfy `pred` —
    * the partition-delete commit (remove tombstones only; data files
    * stay on disk until vacuum, exactly as the protocol specifies). */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  pred: Map[String, String] => Boolean): Long = {
    val victims = DeltaLite.planFilesWithCheckpoint(spark, tableDir)
      .filter { case (_, pv) => pred(pv) }
    require(victims.nonEmpty, "deleteWhere matched no live files")
    val version = nextVersion(tableDir)
    writeCommit(tableDir, version, victims.map { case (rel, _) =>
      s"""{"remove":{"path":"$rel","deletionTimestamp":${1700000000000L + version},"dataChange":true}}"""
    })
    maybeCheckpoint(spark, tableDir, version)
    version
  }
}
