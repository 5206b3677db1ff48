package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Iceberg v2 WRITE path from the PUBLIC spec
  * (iceberg.apache.org/spec, "Commit conflicts" / "File System Tables")
  * — the inverse of [[IcebergLite]]'s reader and the in-repo answer to
  * the reference's lakehouse sinks
  * (be/src/exec/operator/iceberg_table_sink_operator.h:44): stage data
  * files, append a manifest, write the new metadata version, publish it
  * atomically.
  *
  * Spark-first split of the work, the same FE/BE split the reader uses:
  *  - the DATA write is fully distributed — one
  *    `df.write.partitionBy(part).parquet(staging)` pass; with a
  *    pre-`repartition` on the partition column each identity
  *    partition value lands in one task's file, and `filesPerPart > 1`
  *    adds a deterministic content-hash salt so a HOT partition splits
  *    across that many tasks/files instead of funneling through one
  *    (the 100 TB answer to skewed partition values);
  *  - per-file STATS (record count, lower/upper bounds) are read from
  *    the staged parquet FOOTERS in one DISTRIBUTED pass
  *    (`parallelize(paths).map(footerStats)`) — only the
  *    metadata-sized (path → stats) rows return to the driver, so a
  *    million-file commit never serializes footer reads there;
  *  - the COMMIT is the spec's optimistic protocol: manifest avro for
  *    the new files, a manifest list carrying the current snapshot's
  *    manifests forward plus the new one, and the new
  *    `vN+1.metadata.json` published via an atomic CREATE-IF-ABSENT
  *    (hard link) — the file-system spelling of the catalog's
  *    compare-and-swap. A loser re-reads the winner's metadata,
  *    re-resolves sequence/snapshot-id/manifest-list against it, and
  *    retries (bounded): concurrent append/append and append/delete
  *    both land, nothing is lost. `version-hint.text` is advisory and
  *    advances monotonically AFTER the CAS (readers probe upward from
  *    it, per the spec's file-system-table rule).
  *
  * Honest scope (documented, not hidden): REPLACE commits
  * (rewrite_data_files) do not retry — a conflict there would need the
  * spec's revalidation of concurrently-added files, so they fail
  * loudly instead of dropping a concurrent commit. Identity partition
  * transforms; bounds for integral columns. Round-trip correctness is
  * non-circular: `src_iceberg_write_*` oracles recompute expected
  * content from the base table by predicate, and the spec verifies the
  * written layout with the same parsers the read-path fixtures use. */
object IcebergWriter {

  private def mapper = new ObjectMapper()

  /** Bounded optimistic retries for append/delete commits (spec
    * "Commit conflicts": retry is safe when the operation's
    * assumptions still hold after re-resolution). */
  val MaxCommitRetries = 10

  // unique per-JVM tokens for staging dirs / file names, so two
  // concurrent writers never collide on a path before the commit CAS
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextToken(): String =
    s"${ProcessHandle.current().pid()}x${tokenCounter.incrementAndGet()}"

  /** Atomic publish of a small pointer file (version-hint / LATEST):
    * write a temp sibling, rename into place (POSIX rename is atomic —
    * a concurrent reader never observes a truncated hint). */
  private[graft] def atomicWriteString(path: java.nio.file.Path,
                                     content: String): Unit = {
    val tmp = path.resolveSibling(s".${path.getFileName}.${nextToken()}.tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** CAS create of a metadata file that must not already exist
    * (Paimon snapshot-N, Hudi timeline instants): a plain write would
    * silently CLOBBER a concurrent writer's commit — this turns the
    * lost update into a loud, atomic failure. Returns false when the
    * target exists. */
  private[ops] def casCreate(path: java.nio.file.Path, content: String): Boolean = {
    val tmp = path.resolveSibling(s".${path.getFileName}.${nextToken()}.tmp")
    java.nio.file.Files.writeString(tmp, content)
    try {
      java.nio.file.Files.createLink(path, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Current metadata version by direct probe (NOT the hint): the
    * highest `vN.metadata.json` present. The CAS below targets
    * `v(N+1)`, so this read is what makes the loop linearizable on a
    * POSIX filesystem. 0 = table does not exist yet. */
  private def currentVersion(tableDir: String): Int = {
    val md = new java.io.File(tableDir, "metadata")
    Option(md.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val m = "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(f.getName)
        m.map(_.group(1).toInt)
      }.foldLeft(0)(math.max)
  }

  /** Advance the advisory hint monotonically (never regress it past a
    * later writer's update; the tiny read-then-write race is why
    * readers probe upward from the hint instead of trusting it). */
  private def advanceHint(tableDir: String, v: Int): Unit = {
    val hintPath = java.nio.file.Paths.get(tableDir, "metadata", "version-hint.text")
    val cur =
      if (java.nio.file.Files.exists(hintPath))
        java.nio.file.Files.readString(hintPath).trim.toInt
      else 0
    if (cur < v) atomicWriteString(hintPath, v.toString)
  }

  /** CAS publish of `vN+1.metadata.json`: hard-link the staged temp
    * onto the target name — atomically fails with
    * FileAlreadyExistsException when another writer won the version.
    * Returns true on success. */
  private def casPublish(tableDir: String, newVersion: Int,
                         metaJson: String): Boolean = {
    val tmp = java.nio.file.Paths.get(tableDir, "metadata",
      s".meta-${nextToken()}.json")
    java.nio.file.Files.writeString(tmp, metaJson)
    val target = java.nio.file.Paths.get(tableDir, "metadata",
      s"v$newVersion.metadata.json")
    try {
      java.nio.file.Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Resolve (or register, mutating `meta`) the partition spec for
    * `partCol` — PARTITION EVOLUTION (spec "Partition Evolution"):
    * each commit's manifest records the spec it was written under; a
    * later commit with a different partition column registers a NEW
    * spec rather than rewriting history, and the reader prunes each
    * file only by its own spec's column. `None` resolves the
    * unpartitioned spec (what delete manifests are stamped with). */
  private def resolveSpecId(meta: ObjectNode,
                            fields: Seq[(String, String)]): Int = {
    val specsArr = meta.withArray[ArrayNode]("partition-specs")
    (0 until specsArr.size).map(specsArr.get)
      .find { s =>
        val fs = s.get("fields")
        val cur =
          if (fs == null) Seq.empty
          else (0 until fs.size).map(fs.get).map(f =>
            (f.get("name").asText, f.get("transform").asText))
        cur == fields
      }
      .map(_.get("spec-id").asInt)
      .getOrElse {
        val nid = (0 until specsArr.size).map(specsArr.get(_).get("spec-id").asInt)
          .foldLeft(-1)(math.max) + 1
        val spec = specsArr.addObject()
        spec.put("spec-id", nid)
        val farr = spec.putArray("fields")
        fields.zipWithIndex.foreach { case ((c, tr), i) =>
          val f = farr.addObject()
          f.put("name", c); f.put("transform", tr)
          f.put("source-id", i + 1); f.put("field-id", 1000 + nid * 10 + i)
        }
        nid
      }
  }

  private val BucketRe = "^bucket\\[(\\d+)\\]$".r
  private val TruncateRe = "^truncate\\[(\\d+)\\]$".r

  /** The `__part` stamp for a partition transform (spec "Partition
    * Transforms"): identity keeps the value; bucket[N] is the spec's
    * murmur3 bucket (native codegen [[graft.functions.IcebergBucketExpr]]);
    * truncate[W] is a width-W floor for integrals / prefix for strings;
    * year/month/day format the civil date. Data files always RETAIN the
    * source column — the transform only names the partition. */
  private[ops] def transformCol(df: DataFrame, p: String,
                                transform: String): org.apache.spark.sql.Column = {
    val c = col(p)
    val dt = df.schema(p).dataType
    import org.apache.spark.sql.types._
    transform match {
      case "identity" => c.cast("string")
      case BucketRe(n) =>
        import org.apache.spark.sql.graftshim.ColumnShim
        ColumnShim.column(graft.functions.IcebergBucketExpr(
          ColumnShim.expression(c),
          org.apache.spark.sql.catalyst.expressions.Literal(n.toInt)))
          .cast("string")
      case TruncateRe(w) => dt match {
        case StringType => substring(c, 1, w.toInt)
        case LongType | IntegerType =>
          // spec: v - (((v % W) + W) % W) — pmod IS the positive mod
          (c - pmod(c, lit(w.toLong))).cast("string")
        case other => throw new IllegalArgumentException(
          s"truncate[$w] unsupported for $other")
      }
      case "year" => date_format(c, "yyyy")
      case "month" => date_format(c, "yyyy-MM")
      case "day" => date_format(c, "yyyy-MM-dd")
      case other => throw new IllegalArgumentException(
        s"unknown partition transform '$other'")
    }
  }

  /** Append `df` to the table at `tableDir` as one snapshot, creating
    * the table on first use. `partCol` selects the partition source
    * column and `partTransform` its spec transform (identity,
    * bucket[N], truncate[W], year/month/day); `filesPerPart` splits
    * each partition value across that many files (hot-partition
    * relief). Returns the new snapshot id. */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
             partCol: Option[String] = None, filesPerPart: Int = 1,
             partTransform: String = "identity"): Long =
    commit(spark, tableDir, df, partCol, upsertKeysIn = None,
      filesPerPart = filesPerPart, partTransform = partTransform)

  /** Append under a MULTI-FIELD partition spec (spec "Partition Specs":
    * a fields array — e.g. `days(ts), bucket(16, id)`): the data write
    * stages one directory level per field and the manifest stores the
    * joined partition tuple; [[IcebergLite.planFiles]] prunes on any
    * single field's component. */
  def appendMultiSpec(spark: SparkSession, tableDir: String, df: DataFrame,
                      partFields: Seq[(String, String)]): Long = {
    require(partFields.size >= 2, "use append for single-field specs")
    commit(spark, tableDir, df, None, upsertKeysIn = None,
      partFieldsIn = partFields)
  }

  /** Append with a test-visible hook fired just before the first CAS
    * attempt — how the concurrent-commit specs interleave two writers
    * deterministically. */
  private[graft] def appendHooked(spark: SparkSession, tableDir: String,
                                  df: DataFrame, partCol: Option[String],
                                  beforePublish: () => Unit): Long =
    commit(spark, tableDir, df, partCol, upsertKeysIn = None,
      beforePublish = beforePublish)

  /** UPSERT commit — merge-on-write via v2 EQUALITY DELETES: one
    * snapshot holding an equality-delete file of the incoming keys plus
    * the new data files. The spec's sequence-visibility rule does the
    * merge at read time with no rewrite of existing data: the delete
    * (sequence S) removes matching keys only from data files with
    * sequence < S, and the same-commit data files (sequence = S)
    * survive — exactly the upsert contract [[IcebergLite.readSnapshot]]
    * already enforces. At 100 TB this is the write path that makes CDC
    * ingestion cheap: old files are never rewritten, the read-side
    * anti-join shuffles only the delete keys. */
  def upsert(spark: SparkSession, tableDir: String, df: DataFrame,
             keyCols: Seq[String], partCol: Option[String] = None,
             partTransform: String = "identity"): Long = {
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"upsert keys ${keyCols.mkString(",")} must be df columns")
    commit(spark, tableDir, df, partCol, upsertKeysIn = Some(keyCols),
      partTransform = partTransform)
  }

  /** REWRITE DATA FILES (the rewrite_data_files / compaction
    * maintenance action): materialize the current snapshot — position
    * and equality deletes applied — into fresh compacted files and
    * commit them as a REPLACE snapshot whose manifest list references
    * ONLY the new manifest. Reads stop paying the delete anti-joins,
    * and the superseded data/delete files become unreachable from the
    * new snapshot — [[expireSnapshots]] then physically reclaims them,
    * which is the full delete lifecycle at 100 TB: mark (deleteRows) →
    * merge-on-read → rewrite → expire. Old snapshots still time travel
    * until expiry. A REPLACE commit does not retry on conflict (see
    * the scope note above). */
  def rewriteDataFiles(spark: SparkSession, tableDir: String,
                       partCol: Option[String] = None,
                       partFields: Seq[(String, String)] = Nil): Long = {
    val state = IcebergLite.readSnapshot(spark, tableDir)
    // a MULTI-FIELD spec re-stamps the partition tuple on the
    // compacted files — OPTIMIZE must not cost the table its pruning
    commit(spark, tableDir, state, partCol, upsertKeysIn = None,
      summaryProps = Map.empty, replaceAll = true,
      partFieldsIn = partFields)
  }

  /** INSERT OVERWRITE: one replace-all snapshot (stamped with the
    * spec's `overwrite` operation) whose manifest list names only
    * `df`'s new files — readers see the old state or the new, never a
    * mix. Old snapshots still time travel until expiry. Like all
    * replace-all commits, conflicts fail loudly (no retry). */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
                partCol: Option[String] = None): Long = {
    require(currentVersion(tableDir) > 0,
      "overwrite of an unknown table — use append")
    // stamped "overwrite" (the spec's INSERT OVERWRITE operation): a
    // DATA change the CDC feed ships as deletes + inserts, unlike
    // rewrite_data_files' "replace" (state motion, skipped)
    commit(spark, tableDir, df, partCol, upsertKeysIn = None,
      summaryProps = Map.empty, replaceAll = true, replaceOp = "overwrite")
  }

  /** ROW-LEVEL DELETE via v2 POSITION DELETES: one distributed scan
    * finds matching (file_path, pos) pairs and writes them as
    * position-delete parquet shards — spec-sorted by (file_path, pos),
    * one file per (AQE-coalesced) task, NO single-task funnel — each
    * registered as a content=1 manifest entry the read side already
    * anti-joins. Committed through the same optimistic CAS loop as
    * appends: a concurrent append cannot invalidate a position delete
    * (it references files by path), so retry is safe. The sibling of
    * [[DeltaWriter.deleteRows]]'s deletion vectors: same contract, the
    * other protocol's spelling. */
  def deleteRows(spark: SparkSession, tableDir: String,
                 cond: org.apache.spark.sql.Column): Long =
    deleteRowsWhere(spark, tableDir, _.filter(cond))

  /** One distributed pass staging the matcher's (file_path, pos) pairs
    * as spec-sorted position-delete parquet shards. Returns
    * (path, rows, bytes) per non-empty shard. */
  private def stagePositionDeletes(spark: SparkSession, tableDir: String,
                                   matcher: DataFrame => DataFrame,
                                   dataTasks: Seq[IcebergLite.FileTask],
                                   tok: String): Seq[(String, Long, Long)] = {
    // the matcher speaks LOGICAL names; the files store write names —
    // plan the declared write schema, alias, keep file_path/pos
    val declared = IcebergLite.declaredFields(tableDir)
    val raw = declared match {
      case Some(fs) =>
        spark.read.schema(org.apache.spark.sql.types.StructType(fs.map {
          case (_, w, dt) =>
            org.apache.spark.sql.types.StructField(w, dt, nullable = true) }))
          .parquet(dataTasks.map(_.path): _*)
      case None => LakeFiles.scan(spark, dataTasks.map(_.path))
    }
    val base = raw
      .withColumn("file_path", LakeFiles.pathCol)
      .withColumn("pos", col("_metadata.row_index"))
    val scan = declared match {
      case Some(fs) if fs.exists { case (l, w, _) => l != w } =>
        base.select(fs.map { case (l, w, _) => col(w).as(l) } ++
          Seq(col("file_path"), col("pos")): _*)
      case _ => base
    }
    val matched = matcher(scan)
      .select(col("file_path"), col("pos")).distinct()

    // distributed delete-file write: repartition by file so each data
    // file's positions land in one sorted run, AQE bounds tiny tasks
    val staging = s"$tableDir/stage_del_$tok"
    matched.repartition(col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .write.mode("overwrite").parquet(staging)
    val delFiles = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val dst = new java.io.File(tableDir, s"data/posdel_${tok}_$j.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.getAbsolutePath
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    distributedFooterStats(spark, delFiles)
      .collect { case (p, (rows, bytes, _, _)) if rows > 0 => (p, rows, bytes) }
  }

  /** UPDATE / MERGE write half, ONE ATOMIC SNAPSHOT: the matched rows'
    * position-delete files and the new rows' data files commit
    * together — a reader sees the pre-statement or post-statement
    * state, never matched-rows-gone-updates-missing, and a crash
    * cannot lose the updates. The Iceberg sibling of
    * [[DeltaWriter.updateRows]] (reference: the dedicated merge sink
    * commits once, be/src/exec/operator/iceberg_merge_sink_operator.h:44).
    * `partPruneBy` prunes the TARGET scan at manifest level — a
    * partition-scoped statement opens one partition's files. */
  def updateRows(spark: SparkSession, tableDir: String,
                 matcher: DataFrame => DataFrame, newRows: DataFrame,
                 partCol: Option[String] = None,
                 partPruneBy: Option[(String, String => Boolean)] = None,
                 transformPrune: Option[(String, String, String => Boolean)] = None,
                 partTransform: String = "identity",
                 partFields: Seq[(String, String)] = Nil)
      : Long = {
    val dataTasks = IcebergLite.planFiles(tableDir, partPruneBy = partPruneBy,
        transformPrune = transformPrune)
      .filter(_.content == 0)
    require(dataTasks.nonEmpty, "updateRows matched no live files")
    val tok = nextToken()
    val posDels = stagePositionDeletes(spark, tableDir, matcher, dataTasks, tok)
    require(posDels.map(_._2).sum > 0, "updateRows matched no rows")
    // the replacement rows land under the table's OWN spec (transform /
    // multi-field) — forking an identity spec would leave them
    // unprunable by the partition predicates the table was built for
    commit(spark, tableDir, newRows, partCol, upsertKeysIn = None,
      posDelFiles = posDels, singleShot = true,
      partTransform = partTransform, partFieldsIn = partFields)
  }

  /** [[deleteRows]] generalized to a MATCHER over the scan (all table
    * columns plus `file_path`/`pos`, which must survive) — the MERGE
    * INTO route's join-matched delete, same contract as
    * [[DeltaWriter.deleteRowsWhere]]. `partPruneBy` prunes the target
    * scan at manifest level (sound when the statement's predicate
    * cannot match rows outside those partitions). */
  def deleteRowsWhere(spark: SparkSession, tableDir: String,
                      matcher: DataFrame => DataFrame,
                      partPruneBy: Option[(String, String => Boolean)] = None,
                      transformPrune: Option[(String, String, String => Boolean)] = None)
      : Long = {
    val dataTasks = IcebergLite.planFiles(tableDir, partPruneBy = partPruneBy,
        transformPrune = transformPrune)
      .filter(_.content == 0)
    require(dataTasks.nonEmpty,
      if (partPruneBy.isDefined || transformPrune.isDefined)
        "deleteRows matched no rows" else "empty table")
    val tok = nextToken()
    val delStats3 = stagePositionDeletes(spark, tableDir, matcher, dataTasks, tok)
    val delFiles = delStats3.map(_._1)
    val delStats = delStats3.map { case (p, r, b) => (p, (r, b, Map.empty[String, Long], Map.empty[String, Long])) }
    require(delStats.map(_._2._1).sum > 0, "deleteRows matched no rows")

    var attempt = 0
    var result = -1L
    while (result < 0) {
      val curVersion = currentVersion(tableDir)
      val meta = mapper.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
        .asInstanceOf[ObjectNode]
      val seq = meta.get("last-sequence-number").asLong + 1
      val snaps0 = meta.get("snapshots")
      val snapId = (0 until snaps0.size).map(snaps0.get(_).get("snapshot-id").asLong).max + 1
      val specId = resolveSpecId(meta, Nil) // delete files are unpartitioned

      // manifest (content=1 position deletes) + carried-forward list
      val mp = s"$tableDir/metadata/manifest-pd$tok-$attempt.avro"
      locally {
        val es = IcebergLite.ManifestEntrySchema
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](es))
        w.create(es, new java.io.File(mp))
        delFiles.foreach { dp =>
          val (delRows, delBytes, _, _) = delStats.toMap.apply(dp)
          val partRec = new GenericData.Record(
            es.getField("data_file").schema.getField("partition").schema)
          partRec.put("part_value", null)
          val dfRec = new GenericData.Record(es.getField("data_file").schema)
          dfRec.put("content", 1)
          dfRec.put("file_path", dp)
          dfRec.put("file_format", "PARQUET")
          dfRec.put("partition", partRec)
          dfRec.put("record_count", delRows)
          dfRec.put("file_size_in_bytes", delBytes)
          dfRec.put("lower_bounds", null)
          dfRec.put("upper_bounds", null)
          val e = new GenericData.Record(es)
          e.put("status", 1)
          e.put("snapshot_id", snapId)
          e.put("sequence_number", seq)
          e.put("data_file", dfRec)
          w.append(e)
        }
        w.close()
      }
      val cur = (0 until snaps0.size).map(snaps0.get)
        .find(_.get("snapshot-id").asLong == meta.get("current-snapshot-id").asLong).get
      val prevManifests = IcebergLite.readAvro(cur.get("manifest-list").asText)
      val manifestList = s"$tableDir/metadata/snap-$snapId-$tok.avro"
      locally {
        val w = new DataFileWriter(
          new GenericDatumWriter[GenericRecord](IcebergLite.ManifestFileSchema))
        w.create(IcebergLite.ManifestFileSchema, new java.io.File(manifestList))
        prevManifests.foreach(w.append)
        val r = new GenericData.Record(IcebergLite.ManifestFileSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", new java.io.File(mp).length())
        r.put("partition_spec_id", specId)
        r.put("content", 1)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snapId)
        w.append(r)
        w.close()
      }
      meta.put("last-sequence-number", seq)
      meta.put("current-snapshot-id", snapId)
      val snapNode = meta.withArray[ArrayNode]("snapshots").addObject()
      snapNode.put("snapshot-id", snapId)
      snapNode.put("sequence-number", seq)
      snapNode.put("timestamp-ms", 1700000000000L + seq)
      snapNode.put("manifest-list", manifestList)
      Option(meta.get("current-schema-id"))
        .foreach(id => snapNode.put("schema-id", id.asInt): Unit)
      snapNode.putObject("summary").put("operation", "delete")
      if (casPublish(tableDir, curVersion + 1,
          mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))) {
        advanceHint(tableDir, curVersion + 1)
        result = snapId
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"delete commit conflict persisted after $MaxCommitRetries attempts")
      }
    }
    result
  }

  /** Exactly-once streaming sink hook: append one micro-batch, stamping
    * its id into the snapshot SUMMARY. foreachBatch delivers
    * at-least-once; a redelivered batch whose id is already on the
    * snapshot log is skipped (returns None), upgrading the sink to
    * exactly-once — the same idempotence trick the connector sinks use,
    * driven off metadata the reader already parses. */
  def appendBatch(spark: SparkSession, tableDir: String, df: DataFrame,
                  batchId: Long, partCol: Option[String] = None): Option[Long] =
    if (committedBatchIds(tableDir).contains(batchId)) None
    else {
      // the batch id is ALSO re-checked inside the commit retry loop:
      // two sinks racing the same redelivered batch would otherwise
      // both pass this pre-check and double-commit after CAS retries
      val id = commit(spark, tableDir, df, partCol, upsertKeysIn = None,
        summaryProps = Map("streaming-batch-id" -> batchId.toString),
        skipIfBatchCommitted = Some(batchId))
      if (id < 0) None else Some(id)
    }

  /** Batch ids already committed via [[appendBatch]] (from the snapshot
    * summaries of the current metadata version). */
  def committedBatchIds(tableDir: String): Set[Long] = {
    val v = currentVersion(tableDir)
    if (v == 0) Set.empty
    else {
      val meta = mapper.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(tableDir, "metadata", s"v$v.metadata.json")))
      val snaps = meta.get("snapshots")
      (0 until snaps.size).flatMap { i =>
        Option(snaps.get(i).get("summary"))
          .flatMap(s => Option(s.get("streaming-batch-id")))
          .map(_.asText.toLong)
      }.toSet
    }
  }

  private def parquetsUnder(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) parquetsUnder(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** One distributed pass over parquet footers: (path → stats). Only
    * metadata-sized rows return to the driver — the production shape
    * for a many-file commit (writers accumulate these stats in tasks;
    * here the footer read IS task-side). */
  private def distributedFooterStats(spark: SparkSession, paths: Seq[String])
      : Seq[(String, (Long, Long, Map[String, Long], Map[String, Long]))] =
    if (paths.isEmpty) Nil
    else spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 32)))
      .map { p =>
        p -> footerStats(p, new org.apache.hadoop.conf.Configuration())
      }
      .collect().toSeq.sortBy(_._1)

  private def commit(spark: SparkSession, tableDir: String, dfIn: DataFrame,
                     partColIn: Option[String], upsertKeysIn: Option[Seq[String]],
                     summaryProps: Map[String, String] = Map.empty,
                     replaceAll: Boolean = false,
                     replaceOp: String = "replace",
                     filesPerPart: Int = 1,
                     beforePublish: () => Unit = () => (),
                     skipIfBatchCommitted: Option[Long] = None,
                     partTransform: String = "identity",
                     posDelFiles: Seq[(String, Long, Long)] = Nil,
                     singleShot: Boolean = false,
                     partFieldsIn: Seq[(String, String)] = Nil,
                     retypeField: Option[(String,
                       org.apache.spark.sql.types.DataType)] = None): Long = {
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "metadata").mkdirs()
    val tok = nextToken()

    // RENAME COLUMN evolution: data files always store each field's
    // stable WRITE name — incoming logical columns rename before
    // staging, so files written after a rename stay joinable with the
    // pre-rename ones under one name-mapping read
    val writeMap: Map[String, String] =
      if (currentVersion(tableDir) == 0) Map.empty
      else IcebergLite.writeNames(tableDir)
    val df =
      if (dfIn.columns.forall(c => writeMap.getOrElse(c, c) == c)) dfIn
      else dfIn.select(dfIn.columns.toSeq.map(c =>
        col(c).as(writeMap.getOrElse(c, c))): _*)
    val partCol = partColIn.map(c => writeMap.getOrElse(c, c))
    val upsertKeys = upsertKeysIn.map(_.map(c => writeMap.getOrElse(c, c)))
    // effective spec fields: an explicit MULTI-FIELD spec (spec
    // "Partition Specs": a fields array — e.g. days(ts), bucket(16,id))
    // wins over the single-column spelling
    val partFields: Seq[(String, String)] =
      if (partFieldsIn.nonEmpty)
        partFieldsIn.map { case (c, tr) => (writeMap.getOrElse(c, c), tr) }
      else partCol.map(c => Seq((c, partTransform))).getOrElse(Nil)
    require(partFields.size <= 1 || filesPerPart == 1,
      "hot-partition salting with a multi-field spec is out of scope")

    // ---- distributed data write: one pass; __part duplicates the
    // partition column so data files RETAIN it (identity transform —
    // the reader does not reconstruct partition columns from metadata).
    // filesPerPart > 1 adds a deterministic content-hash salt: a hot
    // partition value splits across that many tasks/files instead of
    // funneling through one. A multi-field spec stages one __pK
    // directory level per field; the components join as the stored
    // partition tuple.
    val staging = s"$tableDir/stage_$tok"
    if (partFields.size > 1) {
      val pcols = partFields.zipWithIndex.map { case ((c, tr), i) =>
        (s"__p$i", transformCol(df, c, tr).cast("string")) }
      val stagedDf = pcols.foldLeft(df) { case (acc, (n2, c2)) =>
        acc.withColumn(n2, c2) }
      stagedDf.repartition(pcols.map(p => col(p._1)): _*)
        .write.partitionBy(pcols.map(_._1): _*)
        .mode("overwrite").parquet(staging)
    } else partCol match {
      case Some(p) if filesPerPart > 1 =>
        // explicit partition count: an AQE-coalesced exchange would
        // re-merge the salt groups and defeat the split
        val n = math.max(filesPerPart,
          df.sparkSession.sessionState.conf.numShufflePartitions)
        df.withColumn("__part", transformCol(df, p, partTransform))
          .withColumn("__salt",
            pmod(hash(df.columns.map(col): _*), lit(filesPerPart)))
          .repartition(n, col("__part"), col("__salt"))
          .drop("__salt")
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case Some(p) =>
        df.withColumn("__part", transformCol(df, p, partTransform))
          .repartition(col("__part"))
          .write.partitionBy("__part").mode("overwrite").parquet(staging)
      case None if filesPerPart > 1 =>
        df.repartition(filesPerPart)
          .write.mode("overwrite").parquet(staging)
      case None =>
        df.write.mode("overwrite").parquet(staging)
    }

    // ---- stage → data/: (finalPath, partValue) per file; stats come
    // from one distributed footer pass, and the emptiness guard rides
    // those stats instead of a dedicated df.isEmpty pre-job
    def partOf(f: java.io.File): Option[String] =
      if (partFields.size > 1) {
        // climb the __p(N-1)= ... __p0= directory levels
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
        if (ok) Some(comps.mkString("\u0001")) else None
      } else f.getParentFile.getName match {
        case n if n.startsWith("__part=") => Some(n.stripPrefix("__part="))
        case _ => None
      }
    val staged: Seq[(java.io.File, Option[String])] =
      parquetsUnder(new java.io.File(staging))
        .sortBy(_.getAbsolutePath)
        .map(f => (f, partOf(f)))
    val stagedStats = distributedFooterStats(spark, staged.map(_._1.getAbsolutePath)).toMap
    if (stagedStats.values.map(_._1).sum == 0L) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      throw new IllegalArgumentException("commit of an empty DataFrame is not allowed")
    }
    val entries: Seq[(String, Option[String], Long, Long, Map[String, Long], Map[String, Long])] =
      staged.zipWithIndex.flatMap { case ((f, part), j) =>
        val (rows, bytes, lo, hi) = stagedStats(f.getAbsolutePath)
        if (rows == 0L) { f.delete(); None } // salt shards can be empty
        else {
          val dst = new java.io.File(dir,
            s"data/w${tok}_${part.map(p =>
              s"${p.replace('\u0001', '~')}_").getOrElse("")}$j.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          Some((dst.getAbsolutePath, part, rows, bytes, lo, hi))
        }
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(entries.nonEmpty, "append of an empty DataFrame is not a commit")

    // ---- equality-delete file (upsert commits): the incoming keys,
    // written once, distinct — the read side anti-joins them against
    // earlier-sequence data files only. Written WITHOUT a single-task
    // coalesce: each (AQE-coalesced) task emits one shard, every shard
    // becomes its own content=2 manifest entry.
    val eqDelFiles: Seq[(String, Long, Long)] = upsertKeys.map { keys =>
      val delStaging = s"$tableDir/stage_del_$tok"
      df.select(keys.map(col): _*).distinct()
        .write.mode("overwrite").parquet(delStaging)
      val moved = parquetsUnder(new java.io.File(delStaging))
        .sortBy(_.getAbsolutePath)
        .zipWithIndex.map { case (f, j) =>
          val dst = new java.io.File(dir, s"data/eqdel_${tok}_$j.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.getAbsolutePath
        }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(delStaging))
      distributedFooterStats(spark, moved)
        .collect { case (p, (rows, bytes, _, _)) if rows > 0 => (p, rows, bytes) }
    }.getOrElse(Nil)

    // ---- optimistic commit loop (spec "Commit conflicts"): each
    // attempt re-reads the current metadata, re-stamps sequence and
    // snapshot id, rewrites the (metadata-sized) manifest + list, and
    // CAS-publishes vN+1. The staged DATA files are written once,
    // above — conflicts re-resolve metadata only.
    var attempt = 0
    var result = -1L
    var skipped = false
    while (result < 0 && !skipped) {
      val curVersion = currentVersion(tableDir)
      // exactly-once re-check under the loop: a concurrent sink may
      // have committed this batch between our pre-check and this CAS
      // attempt
      if (skipIfBatchCommitted.exists(committedBatchIds(tableDir).contains)) {
        skipped = true
      } else {
      val curMeta: Option[ObjectNode] =
        if (curVersion == 0) None
        else Some(mapper.readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
          .asInstanceOf[ObjectNode])
      require(attempt == 0 || !replaceAll,
        "REPLACE commit conflicts with a concurrent commit — rerun the " +
          "rewrite against the new table state (retry would need " +
          "conflicting-file revalidation, declared out of scope)")
      // a state-reading commit (UPDATE/MERGE: the matched set depends
      // on the snapshot it scanned) must not retry with stale deletes —
      // the protocol's ConcurrentModificationException, not a retry
      require(attempt == 0 || !singleShot,
        "UPDATE/MERGE commit conflicts with a concurrent commit — " +
          "re-read the table state and retry the statement")
      val lastSeq = curMeta.map(_.get("last-sequence-number").asLong).getOrElse(0L)
      val seq = lastSeq + 1
      // foldLeft(999): a CREATED-EMPTY table has metadata but zero
      // snapshots — its first commit starts at 1000 like a fresh table
      val snapId = curMeta.map { m =>
        val snaps = m.get("snapshots")
        (0 until snaps.size).map(snaps.get(_).get("snapshot-id").asLong)
          .foldLeft(999L)(math.max) + 1
      }.getOrElse(1000L)

      // manifest avro for this commit's data files
      val manifestPath = s"$tableDir/metadata/manifest-w$tok-$attempt.avro"
      locally {
        val w = new DataFileWriter(
          new GenericDatumWriter[GenericRecord](IcebergLite.ManifestEntrySchema))
        w.create(IcebergLite.ManifestEntrySchema, new java.io.File(manifestPath))
        entries.foreach { case (fp, part, rows, bytes, lo, hi) =>
          val es = IcebergLite.ManifestEntrySchema
          val partRec = new GenericData.Record(
            es.getField("data_file").schema.getField("partition").schema)
          partRec.put("part_value", part.orNull)
          val dfRec = new GenericData.Record(es.getField("data_file").schema)
          dfRec.put("content", 0)
          dfRec.put("file_path", fp)
          dfRec.put("file_format", "PARQUET")
          dfRec.put("partition", partRec)
          dfRec.put("record_count", rows)
          dfRec.put("file_size_in_bytes", bytes)
          def toJava(m: Map[String, Long]): java.util.Map[String, java.lang.Long] =
            if (m.isEmpty) null
            else { val jm = new java.util.HashMap[String, java.lang.Long]()
              m.foreach { case (k, v) => jm.put(k, java.lang.Long.valueOf(v)) }; jm }
          dfRec.put("lower_bounds", toJava(lo))
          dfRec.put("upper_bounds", toJava(hi))
          val e = new GenericData.Record(es)
          e.put("status", 1) // ADDED
          e.put("snapshot_id", snapId)
          e.put("sequence_number", seq)
          e.put("data_file", dfRec)
          w.append(e)
        }
        w.close()
      }

      // delete manifests: equality deletes (upsert commits) and/or
      // position deletes (atomic UPDATE/MERGE commits)
      def writeDeleteManifest(suffix: String, content: Int,
                              files: Seq[(String, Long, Long)]): String = {
        val mp = s"$tableDir/metadata/manifest-$suffix$tok-$attempt.avro"
        val es = IcebergLite.ManifestEntrySchema
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](es))
        w.create(es, new java.io.File(mp))
        files.foreach { case (dp, delRows, delBytes) =>
          val partRec = new GenericData.Record(
            es.getField("data_file").schema.getField("partition").schema)
          partRec.put("part_value", null)
          val dfRec = new GenericData.Record(es.getField("data_file").schema)
          dfRec.put("content", content)
          dfRec.put("file_path", dp)
          dfRec.put("file_format", "PARQUET")
          dfRec.put("partition", partRec)
          dfRec.put("record_count", delRows)
          dfRec.put("file_size_in_bytes", delBytes)
          dfRec.put("lower_bounds", null)
          dfRec.put("upper_bounds", null)
          val e = new GenericData.Record(es)
          e.put("status", 1)
          e.put("snapshot_id", snapId)
          e.put("sequence_number", seq)
          e.put("data_file", dfRec)
          w.append(e)
        }
        w.close()
        mp
      }
      val deleteManifest: Option[String] =
        if (eqDelFiles.isEmpty) None
        else Some(writeDeleteManifest("d", 2, eqDelFiles))
      val posDelManifest: Option[String] =
        if (posDelFiles.isEmpty) None
        else Some(writeDeleteManifest("pd", 1, posDelFiles))

      // metadata node (created on first commit) + spec resolution
      val meta: ObjectNode = curMeta.getOrElse {
        val m = mapper.createObjectNode()
        m.put("format-version", 2)
        m.put("table-uuid", "00000000-0000-0000-0000-000000000001")
        m.put("location", tableDir)
        m.putArray("partition-specs")
        m.putArray("snapshots")
        // the creation metadata DECLARES the schema (spec `schemas`)
        // when every column type maps — what empty reads after a
        // TRUNCATE and evolution resolve against; complex-typed
        // fixture tables stay schema-by-file as before
        if (df.schema.fields.forall(f =>
            scala.util.Try(IcebergLite.icebergTypeName(f.dataType)).isSuccess)) {
          val schemas = m.putArray("schemas")
          val node = schemas.addObject()
          node.put("schema-id", 0)
          node.put("type", "struct")
          val fs = node.putArray("fields")
          df.schema.fields.zipWithIndex.foreach { case (f, i) =>
            val fn = fs.addObject()
            fn.put("id", i + 1)
            fn.put("name", f.name)
            fn.put("required", false)
            fn.put("type", IcebergLite.icebergTypeName(f.dataType))
          }
          m.put("current-schema-id", 0)
        }
        m
      }
      val specId = resolveSpecId(meta, partFields)

      // SCHEMA-MERGE-ON-WRITE: an incoming column the declared schema
      // lacks evolves the schema in the SAME commit — the pre-DDL
      // evolve-by-append surface keeps working under declared schemas
      // (real engines spell this mergeSchema / auto-evolve)
      IcebergLite.declaredFieldsOf(meta).foreach { fields =>
        val known = fields.map(_._2).toSet
        val extra = df.schema.fields.filterNot(f => known.contains(f.name))
        if (extra.nonEmpty) {
          require(extra.forall(f => scala.util.Try(
              IcebergLite.icebergTypeName(f.dataType)).isSuccess),
            s"append adds column(s) the schema cannot declare: " +
              extra.map(_.name).mkString(","))
          val schemas = meta.withArray[ArrayNode]("schemas")
          val newId = (0 until schemas.size)
            .map(schemas.get(_).get("schema-id").asInt).max + 1
          val node = schemas.addObject()
          node.put("schema-id", newId)
          node.put("type", "struct")
          val fs = node.putArray("fields")
          val evolved = fields ++ extra.map(f => (f.name, f.name, f.dataType))
          evolved.zipWithIndex.foreach { case ((l, w, dt), i) =>
            val fn = fs.addObject()
            fn.put("id", i + 1)
            fn.put("name", l)
            fn.put("required", false)
            fn.put("type", IcebergLite.icebergTypeName(dt))
            if (w != l) fn.put("write-name", w)
          }
          meta.put("current-schema-id", newId)
        }
      }

      // VALUE-REWRITING RETYPE: a replace-all rewrite may re-type one
      // declared field in the SAME metadata swap — the new schema entry
      // and the rewritten files commit atomically (one CAS), so a
      // reader sees the old (schema, data) pair or the new, never a mix
      retypeField.foreach { case (rn, rdt) =>
        val fields = IcebergLite.declaredFieldsOf(meta).getOrElse(
          sys.error("retype needs a declared schema"))
        require(fields.exists(_._1 == rn), s"no column $rn")
        val schemas = meta.withArray[ArrayNode]("schemas")
        val newId = (0 until schemas.size)
          .map(schemas.get(_).get("schema-id").asInt).foldLeft(-1)(math.max) + 1
        val node = schemas.addObject()
        node.put("schema-id", newId)
        node.put("type", "struct")
        val fs = node.putArray("fields")
        fields.map { case (l, w, dt) =>
          (l, w, if (l == rn) rdt else dt)
        }.zipWithIndex.foreach { case ((l, w, dt), i) =>
          val fn = fs.addObject()
          fn.put("id", i + 1)
          fn.put("name", l)
          fn.put("required", false)
          fn.put("type", IcebergLite.icebergTypeName(dt))
          if (w != l) fn.put("write-name", w)
        }
        meta.put("current-schema-id", newId)
      }

      // manifest list: current snapshot's manifests carried forward +
      // the new one (append semantics); REPLACE lists only the new one
      val prevManifests: Seq[GenericRecord] = if (replaceAll) Nil
      else curMeta.map { m =>
        val snaps = m.get("snapshots")
        if (m.get("current-snapshot-id").asLong == -1L) Nil // created empty
        else {
          val cur = (0 until snaps.size).map(snaps.get)
            .find(_.get("snapshot-id").asLong == m.get("current-snapshot-id").asLong)
            .getOrElse(throw new IllegalStateException("current snapshot missing"))
          IcebergLite.readAvro(cur.get("manifest-list").asText)
        }
      }.getOrElse(Nil)
      val manifestList = s"$tableDir/metadata/snap-$snapId-$tok.avro"
      locally {
        val w = new DataFileWriter(
          new GenericDatumWriter[GenericRecord](IcebergLite.ManifestFileSchema))
        w.create(IcebergLite.ManifestFileSchema, new java.io.File(manifestList))
        prevManifests.foreach(w.append)
        def listEntry(mp: String, content: Int): GenericRecord = {
          val r = new GenericData.Record(IcebergLite.ManifestFileSchema)
          r.put("manifest_path", mp)
          r.put("manifest_length", new java.io.File(mp).length())
          r.put("partition_spec_id", specId)
          r.put("content", content)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
          r.put("added_snapshot_id", snapId)
          r
        }
        deleteManifest.foreach(mp => w.append(listEntry(mp, 1)))
        posDelManifest.foreach(mp => w.append(listEntry(mp, 1)))
        w.append(listEntry(manifestPath, 0))
        w.close()
      }

      // new metadata version, CAS-published; hint advances after
      meta.put("last-sequence-number", seq)
      meta.put("current-snapshot-id", snapId)
      val snapNode = meta.withArray[ArrayNode]("snapshots").addObject()
      snapNode.put("snapshot-id", snapId)
      snapNode.put("sequence-number", seq)
      snapNode.put("timestamp-ms", 1700000000000L + seq)
      snapNode.put("manifest-list", manifestList)
      // the spec's per-snapshot schema binding: travel reads resolve
      // the schema the snapshot was committed under
      Option(meta.get("current-schema-id"))
        .foreach(id => snapNode.put("schema-id", id.asInt): Unit)
      val summaryNode = snapNode.putObject("summary")
      summaryNode.put("operation",
        if (replaceAll) replaceOp
        else if (upsertKeys.isDefined || posDelFiles.nonEmpty) "overwrite"
        else "append")
      summaryProps.foreach { case (k, v) => summaryNode.put(k, v) }
      if (attempt == 0) beforePublish()
      if (casPublish(tableDir, curVersion + 1,
          mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))) {
        advanceHint(tableDir, curVersion + 1)
        result = snapId
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"commit conflict persisted after $MaxCommitRetries attempts")
      }
      }
    }
    result // -1 = batch already committed by a concurrent sink
  }

  /** CREATE an EMPTY table (standard DDL: `CREATE TABLE t (cols...)`
    * with no AS SELECT): v1.metadata.json declares the schema with NO
    * snapshot — the spec's empty-table state (`current-snapshot-id` =
    * -1). The first append commits snapshot 1000 on top; reads return
    * a declared-schema empty frame until then. */
  def createEmpty(spark: SparkSession, tableDir: String,
                  schema: org.apache.spark.sql.types.StructType): Unit = {
    require(currentVersion(tableDir) == 0, s"table already exists at $tableDir")
    new java.io.File(tableDir, "metadata").mkdirs()
    val m = mapper.createObjectNode()
    m.put("format-version", 2)
    m.put("table-uuid", "00000000-0000-0000-0000-000000000001")
    m.put("location", tableDir)
    m.putArray("partition-specs")
    m.putArray("snapshots")
    m.put("last-sequence-number", 0L)
    m.put("current-snapshot-id", -1L)
    val schemas = m.putArray("schemas")
    val node = schemas.addObject()
    node.put("schema-id", 0)
    node.put("type", "struct")
    val fields = node.putArray("fields")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1)
      fn.put("name", f.name)
      fn.put("required", false)
      fn.put("type", IcebergLite.icebergTypeName(f.dataType))
    }
    m.put("current-schema-id", 0)
    require(casPublish(tableDir, 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)),
      "empty-table creation lost a race with a concurrent writer")
    advanceHint(tableDir, 1)
  }

  /** TRUNCATE TABLE: ONE REPLACE snapshot referencing an EMPTY
    * manifest list — all live rows gone atomically, old snapshots
    * still travel until expiry reclaims them. A no-op (returns -1) on
    * an already-empty table, standard SQL. */
  def truncateTable(spark: SparkSession, tableDir: String): Long = {
    val curVersion = currentVersion(tableDir)
    require(curVersion > 0, "table does not exist")
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    if (meta.get("current-snapshot-id").asLong == -1L) return -1L
    if (!IcebergLite.planFiles(tableDir).exists(_.content == 0)) return -1L
    require(IcebergLite.declaredFieldsOf(meta).isDefined,
      "TRUNCATE needs a declared schema — this table predates schema " +
        "declaration (complex-typed columns); rewrite it first")
    val seq = meta.get("last-sequence-number").asLong + 1
    val snaps = meta.get("snapshots")
    val snapId = (0 until snaps.size)
      .map(snaps.get(_).get("snapshot-id").asLong).foldLeft(999L)(math.max) + 1
    val manifestList = s"$tableDir/metadata/snap-$snapId-${nextToken()}.avro"
    locally { // an EMPTY manifest list: zero live manifests
      val w = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](IcebergLite.ManifestFileSchema))
      w.create(IcebergLite.ManifestFileSchema, new java.io.File(manifestList))
      w.close()
    }
    meta.put("last-sequence-number", seq)
    meta.put("current-snapshot-id", snapId)
    val snapNode = meta.withArray[ArrayNode]("snapshots").addObject()
    snapNode.put("snapshot-id", snapId)
    snapNode.put("sequence-number", seq)
    snapNode.put("timestamp-ms", 1700000000000L + seq)
    snapNode.put("manifest-list", manifestList)
    Option(meta.get("current-schema-id"))
      .foreach(id => snapNode.put("schema-id", id.asInt): Unit)
    // TRUNCATE is a DATA change (every live row removed) — stamped
    // "delete" so the CDC feed ships the truncated rows as deletes;
    // "replace" stays reserved for state motion (rewrite_data_files)
    snapNode.putObject("summary").put("operation", "delete")
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      "TRUNCATE lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
    snapId
  }

  /** TRUNCATE one PARTITION, metadata-only: every live manifest that
    * names a data file of `partValue` is rewritten WITHOUT those
    * entries (surviving entries copy VERBATIM — column stats included,
    * so pruning keeps working), untouched manifests carry forward by
    * reference, and one `delete`-stamped snapshot publishes the new
    * manifest list. No data bytes move; the CDC feed ships the
    * partition's predecessor-live rows as deletes via the snapshot
    * diff ([[IcebergLite.readChangesCdc]]). Returns -1 (no-op) when
    * the partition holds no live data files. Identity specs only (the
    * caller guards). */
  def truncatePartition(tableDir: String, partValue: String): Long = {
    val curVersion = currentVersion(tableDir)
    require(curVersion > 0, "table does not exist")
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    val curSnapId = meta.get("current-snapshot-id").asLong
    if (curSnapId == -1L) return -1L // created empty: nothing to truncate
    val snaps = meta.get("snapshots")
    val curSnap = (0 until snaps.size).map(snaps.get)
      .find(_.get("snapshot-id").asLong == curSnapId)
      .getOrElse(sys.error(s"snapshot $curSnapId not in the log"))
    val listRecs = IcebergLite.readAvro(curSnap.get("manifest-list").asText)
    var dropped = 0
    val keptListRecs = listRecs.flatMap { mf =>
      val mPath = mf.get("manifest_path").toString
      val entries = IcebergLite.readAvro(mPath)
      val (dead, live) = entries.partition { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        e.get("status").asInstanceOf[Int] != 2 &&
          df.get("content").asInstanceOf[Int] == 0 &&
          Option(df.get("partition").asInstanceOf[GenericRecord]
            .get("part_value")).map(_.toString).contains(partValue)
      }
      if (dead.isEmpty) Some(mf) // untouched: carried by reference
      else {
        dropped += dead.size
        val liveAdds = live.filterNot(_.get("status").asInstanceOf[Int] == 2)
        if (liveAdds.isEmpty) None // manifest empties out of the snapshot
        else {
          val np = s"$tableDir/metadata/manifest-tp-${nextToken()}.avro"
          val w = new DataFileWriter(
            new GenericDatumWriter[GenericRecord](IcebergLite.ManifestEntrySchema))
          w.create(IcebergLite.ManifestEntrySchema, new java.io.File(np))
          live.foreach(w.append) // verbatim copies, stats intact
          w.close()
          mf.put("manifest_path", np)
          Some(mf)
        }
      }
    }
    if (dropped == 0) return -1L // partition absent: standard no-op
    val seq = meta.get("last-sequence-number").asLong + 1
    val snapId = (0 until snaps.size)
      .map(snaps.get(_).get("snapshot-id").asLong).foldLeft(999L)(math.max) + 1
    val manifestList = s"$tableDir/metadata/snap-$snapId-${nextToken()}.avro"
    locally {
      val w = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](IcebergLite.ManifestFileSchema))
      w.create(IcebergLite.ManifestFileSchema, new java.io.File(manifestList))
      keptListRecs.foreach(w.append)
      w.close()
    }
    meta.put("last-sequence-number", seq)
    meta.put("current-snapshot-id", snapId)
    val snapNode = meta.withArray[ArrayNode]("snapshots").addObject()
    snapNode.put("snapshot-id", snapId)
    snapNode.put("sequence-number", seq)
    snapNode.put("timestamp-ms", 1700000000000L + seq)
    snapNode.put("manifest-list", manifestList)
    Option(meta.get("current-schema-id"))
      .foreach(id => snapNode.put("schema-id", id.asInt): Unit)
    snapNode.putObject("summary").put("operation", "delete")
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      "TRUNCATE PARTITION lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
    snapId
  }

  /** VALUE-REWRITING type change (sanctioned cases in
    * [[TypeWiden.retypeOk]]): every live row rewrites with the column
    * cast to the new type, committed as ONE replace-all snapshot whose
    * metadata swap ALSO carries the re-typed schema — atomic at the
    * CAS, like [[DeltaWriter.retypeColumn]]. Stamped "replace": the
    * logical row set is unchanged (state motion), so the CDC feed
    * stays quiet, like a compaction. An empty table retypes
    * metadata-only. */
  def retypeColumn(spark: SparkSession, tableDir: String,
                   name: String, sqlType: String,
                   partCol: Option[String] = None,
                   partTransform: String = "identity",
                   partFields: Seq[(String, String)] = Nil): Long = {
    val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(sqlType)
    val declared = IcebergLite.declaredFields(tableDir).getOrElse(
      sys.error("retype needs a declared schema — this table predates " +
        "schema declarations (CREATE it through the SQL route)"))
    val f = declared.find(_._1 == name).getOrElse(sys.error(s"no column $name"))
    require(TypeWiden.retypeOk(f._3, dt),
      s"cannot retype $name from ${f._3.simpleString} to " +
        s"${dt.simpleString} — sanctioned rewrites: integral -> string, " +
        "integer-digit-preserving decimal scale growth")
    if (!IcebergLite.planFiles(tableDir).exists(_.content == 0)) {
      // empty table: the schema swap alone
      evolveSchema(spark, tableDir, "ALTER COLUMN TYPE")(fields =>
        fields.map { case (l, w, fdt) =>
          (l, w, if (l == name) dt else fdt) }): Unit
      return currentVersion(tableDir).toLong
    }
    val rows = IcebergLite.readSnapshot(spark, tableDir)
      .withColumn(name, org.apache.spark.sql.functions.col(name).cast(dt))
    commit(spark, tableDir, rows, partCol, upsertKeysIn = None,
      replaceAll = true, singleShot = true, partTransform = partTransform,
      partFieldsIn = partFields, retypeField = Some((name, dt)))
  }

  /** ADD COLUMN schema evolution, writer half (spec "Schemas" /
    * "Schema Evolution"): append a NEW schema (fresh schema-id, new
    * field appended nullable with the next field id) to the metadata's
    * `schemas` array and point `current-schema-id` at it — one CAS
    * metadata bump, no data movement. [[IcebergLite.readSnapshot]]
    * plans the scan with the declared schema, so pre-evolution files
    * read the column as NULL. Returns the new schema id. */
  def addColumn(spark: SparkSession, tableDir: String,
                name: String, sqlType: String): Int =
    evolveSchema(spark, tableDir, "ADD COLUMN") { cur =>
      require(!cur.exists(_._1 == name), s"column $name already exists")
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(sqlType)
      cur :+ ((name, name, dt))
    }

  /** ALTER COLUMN TYPE widening (spec "Schema Evolution": int→long,
    * float→double are the sanctioned promotions): a new schema with the
    * field re-typed — metadata-only; the declared-schema scan up-casts
    * pre-widening files' narrower physical types natively. */
  def widenColumn(spark: SparkSession, tableDir: String,
                  name: String, sqlType: String): Int =
    evolveSchema(spark, tableDir, "ALTER COLUMN TYPE") { cur =>
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(sqlType)
      val f = cur.find(_._1 == name).getOrElse(sys.error(s"no column $name"))
      TypeWiden.check(name, f._3, dt)
      cur.map { case (l, w, t) => if (l == name) (l, w, dt) else (l, w, t) }
    }

  /** DROP COLUMN (spec "Schema Evolution"): a new schema without the
    * field — metadata-only, no data movement; data files keep the bytes
    * but the declared-schema scan never reads them. */
  def dropColumn(spark: SparkSession, tableDir: String, name: String): Int =
    evolveSchema(spark, tableDir, "DROP COLUMN") { cur =>
      require(cur.exists(_._1 == name), s"no column $name")
      val next = cur.filterNot(_._1 == name)
      require(next.nonEmpty, "cannot drop the last column")
      next
    }

  /** RENAME COLUMN (spec "Schema Evolution" + name mapping): a new
    * schema where the field keeps its stable WRITE name (what data and
    * delete files store — the `schema.name-mapping.default` contract)
    * and only the logical name changes. Metadata-only; reads alias
    * write → logical on the fly. */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Int =
    evolveSchema(spark, tableDir, "RENAME COLUMN") { cur =>
      require(cur.exists(_._1 == from), s"no column $from")
      require(!cur.exists(_._1 == to), s"column $to already exists")
      cur.map { case (l, w, dt) => if (l == from) (to, w, dt) else (l, w, dt) }
    }

  /** One CAS schema-evolution commit: read the current fields
    * (logical, write, type), apply `f`, append the new schema node and
    * point current-schema-id at it. Returns the new schema id. */
  private def evolveSchema(spark: SparkSession, tableDir: String, what: String)
      (f: Seq[(String, String, org.apache.spark.sql.types.DataType)] =>
        Seq[(String, String, org.apache.spark.sql.types.DataType)]): Int = {
    val curVersion = currentVersion(tableDir)
    require(curVersion > 0, "table does not exist")
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    val cur: Seq[(String, String, org.apache.spark.sql.types.DataType)] =
      IcebergLite.declaredFieldsOf(meta).getOrElse(
        IcebergLite.readSnapshot(spark, tableDir).schema.fields.toSeq
          .map(x => (x.name, x.name, x.dataType)))
    val evolved = f(cur)
    val schemas =
      if (meta.has("schemas")) meta.withArray[ArrayNode]("schemas")
      else meta.putArray("schemas")
    val newId = (0 until schemas.size)
      .map(schemas.get(_).get("schema-id").asInt).foldLeft(-1)(math.max) + 1
    val node = schemas.addObject()
    node.put("schema-id", newId)
    node.put("type", "struct")
    val fields = node.putArray("fields")
    evolved.zipWithIndex.foreach { case ((l, w, dt), i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1)
      fn.put("name", l)
      fn.put("required", false)
      fn.put("type", IcebergLite.icebergTypeName(dt))
      if (w != l) fn.put("write-name", w)
    }
    meta.put("current-schema-id", newId)
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      s"$what lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
    newId
  }

  /** TAG a snapshot (spec "Refs": named references to snapshot ids —
    * tags are immutable labels, branches movable heads; both live in
    * the metadata's `refs` map). A tagged snapshot survives
    * [[expireSnapshots]] until the tag is dropped — how production
    * tables pin "the corpus we trained v3 on" while retention reaps
    * everything else. Published through the same CAS as commits. */
  def tagSnapshot(tableDir: String, name: String, snapshotId: Long,
                  refType: String = "tag"): Unit = {
    require(refType == "tag" || refType == "branch", s"bad ref type $refType")
    val curVersion = currentVersion(tableDir)
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    val snaps = meta.get("snapshots")
    require((0 until snaps.size).exists(
      snaps.get(_).get("snapshot-id").asLong == snapshotId),
      s"snapshot $snapshotId is not on the log")
    val refs =
      if (meta.has("refs")) meta.withObject("refs")
      else meta.putObject("refs")
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId)
    r.put("type", refType)
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      "ref update lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
  }

  /** Drop a ref (the tag becomes reapable by the next expiry). */
  def dropRef(tableDir: String, name: String): Unit = {
    val curVersion = currentVersion(tableDir)
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    require(meta.has("refs") && meta.get("refs").has(name), s"no ref $name")
    meta.withObject("refs").remove(name)
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      "ref update lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
  }

  /** Resolve a ref name to its snapshot id. */
  def resolveRef(tableDir: String, name: String): Long = {
    val curVersion = currentVersion(tableDir)
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
    val refs = meta.get("refs")
    require(refs != null && refs.has(name), s"no ref $name on the table")
    refs.get(name).get("snapshot-id").asLong
  }

  /** Snapshot EXPIRY + orphan cleanup (the spec's expire_snapshots /
    * remove_orphan_files maintenance pair): keep the most recent
    * `keepLast` snapshots, rewrite the metadata version without the
    * expired ones, delete their manifest lists, and physically delete
    * every data/delete/manifest file referenced ONLY by expired
    * snapshots. Metadata-sized driver work; the file-reachability set
    * is the union of the kept snapshots' plans. The version bump is
    * CAS-published like a commit — racing a concurrent writer fails
    * loudly instead of clobbering its version. Returns the deleted
    * file paths. At 100 TB this is what keeps a CDC-upserted table
    * from growing without bound. */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val curVersion = currentVersion(tableDir)
    val meta = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metadata", s"v$curVersion.metadata.json")))
      .asInstanceOf[ObjectNode]
    val snaps = meta.withArray[ArrayNode]("snapshots")
    val all = (0 until snaps.size).map(snaps.get(_).asInstanceOf[ObjectNode])
      .sortBy(_.get("sequence-number").asLong)
    if (all.size <= keepLast) return Nil
    // refs pin their snapshots past retention (spec: expire_snapshots
    // never removes a snapshot a branch/tag references)
    val refIds: Set[Long] = Option(meta.get("refs")).map { refs =>
      val it = refs.fieldNames()
      val b = Set.newBuilder[Long]
      while (it.hasNext) b += refs.get(it.next()).get("snapshot-id").asLong
      b.result()
    }.getOrElse(Set.empty)
    val (tail, recent) = all.splitAt(all.size - keepLast)
    val (pinned, expired) = tail.partition(s =>
      refIds.contains(s.get("snapshot-id").asLong))
    val kept = pinned ++ recent
    if (expired.isEmpty) return Nil

    // reachability: every file (data + manifest) a KEPT snapshot plans
    def filesOf(snapId: Long): (Set[String], Set[String]) = {
      val tasks = IcebergLite.planFiles(tableDir, Some(snapId))
      val snap = all.find(_.get("snapshot-id").asLong == snapId).get
      val manifests = IcebergLite.readAvro(snap.get("manifest-list").asText)
        .map(_.get("manifest_path").toString).toSet
      (tasks.map(_.path).toSet, manifests)
    }
    val keptIds = kept.map(_.get("snapshot-id").asLong)
    val (keptData, keptManifests) = keptIds.map(filesOf)
      .foldLeft((Set.empty[String], Set.empty[String])) {
        case ((d, m), (d2, m2)) => (d ++ d2, m ++ m2)
      }
    val deleted = Seq.newBuilder[String]
    // plan every expired snapshot BEFORE deleting anything — later
    // expired snapshots replay manifests earlier ones also reference
    val expiredSets = expired.map { s =>
      (s.get("manifest-list").asText, filesOf(s.get("snapshot-id").asLong))
    }
    // rewrite metadata with only the kept snapshots FIRST (CAS) — only
    // after the new version is live do the unreachable files go away
    val newSnaps = mapper.createArrayNode()
    kept.foreach(newSnaps.add)
    meta.set[ObjectNode]("snapshots", newSnaps)
    require(casPublish(tableDir, curVersion + 1,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)),
      "expireSnapshots lost a version race with a concurrent commit — rerun")
    advanceHint(tableDir, curVersion + 1)
    expiredSets.foreach { case (ml, (data, manifests)) =>
      (data -- keptData).foreach { p =>
        if (new java.io.File(p).delete()) deleted += p
      }
      (manifests -- keptManifests).foreach { p =>
        if (new java.io.File(p).delete()) deleted += p
      }
      if (new java.io.File(ml).delete()) deleted += ml
    }
    deleted.result()
  }

  /** Record count, byte size, and integral-column lower/upper bounds
    * from one parquet footer — metadata-sized, no data read. Runs
    * task-side in [[distributedFooterStats]]. */
  private[ops] def footerStats(path: String,
                               conf: org.apache.hadoop.conf.Configuration)
      : (Long, Long, Map[String, Long], Map[String, Long]) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val lo = scala.collection.mutable.Map.empty[String, Long]
      val hi = scala.collection.mutable.Map.empty[String, Long]
      blocks.foreach(_.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        val stats = c.getStatistics
        val tname = c.getPrimitiveType.getPrimitiveTypeName.name()
        if (stats != null && stats.hasNonNullValue &&
            (tname == "INT64" || tname == "INT32")) {
          val (mn, mx) = stats.genericGetMin match {
            case l: java.lang.Long => (l.longValue, stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            case i: java.lang.Integer => (i.longValue, stats.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
            case _ => (0L, 0L)
          }
          lo(name) = lo.get(name).fold(mn)(math.min(_, mn))
          hi(name) = hi.get(name).fold(mx)(math.max(_, mx))
        }
      })
      (rows, new java.io.File(path).length(), lo.toMap, hi.toMap)
    } finally reader.close()
  }
}
