package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Apache Paimon single-writer WRITE path for PRIMARY-KEY tables, from
  * the public layout spec — completing the write side of the lakehouse
  * quartet next to [[IcebergWriter]] and [[DeltaWriter]] (reference:
  * the Paimon sink side of fe/fe-core/.../datasource/paimon/).
  *
  * Spark-first split:
  *  - the DATA write is one distributed pass: rows gain the LSM system
  *    columns (`_SEQUENCE_NUMBER` monotone above every previously
  *    committed sequence, `_VALUE_KIND` from the caller or +I), bucket
  *    by positive key hash, and land via
  *    `repartition(part, bucket).write.partitionBy(part, bucket)` — one
  *    file per (partition, bucket) per commit, which is exactly the
  *    bucket-local layout the LSM merge relies on at 100 TB;
  *  - the COMMIT is driver-side metadata: per-file min/max sequence
  *    from the staged parquet FOOTERS, one manifest avro of ADD
  *    entries, a base manifest list carrying the previous snapshot's
  *    manifests forward plus a delta list of this commit, the snapshot
  *    JSON, and the `snapshot/LATEST` hint swapped LAST as the atomic
  *    commit point.
  *
  * Honest scope: single writer (no lock/conflict protocol), APPEND
  * commits of +I/+U/-D rows (compaction stays a reader-side concern
  * here — [[PaimonLite]] replays COMPACT snapshots the fixture stages),
  * identity partitions, modulo-free hash bucketing via Spark's
  * murmur-based `hash`. Each key should appear at most once per commit
  * (the same premise a real write buffer enforces by deduplicating
  * before flush). Correctness is non-circular:
  * `src_paimon_write_{scan,travel}` read back through the independent
  * [[PaimonLite]] chain against oracles recomputed by predicate. */
object PaimonWriter {

  /** The stored partition value: the raw column (identity) or a
    * monotone date transform (day/month/year — the same spellings and
    * formats [[IcebergWriter.transformCol]] stamps, so the SQL route's
    * transform pruning compares like against like). */
  private def partExpr(df: org.apache.spark.sql.DataFrame, partCol: String,
                       partTransform: String): org.apache.spark.sql.Column =
    if (partTransform == "identity") col(partCol).cast("string")
    else IcebergWriter.transformCol(df, partCol, partTransform)

  /** APPEND-ONLY (non-PK) table write — the spec's "Append Table":
    * no primary key, no LSM merge, rows are immutable facts. The data
    * pass is one distributed partition-clustered write (no bucket
    * routing — append tables have no key to route by), the commit is
    * the same snapshot/manifest chain, and the read side is a plain
    * scan of the live files ([[PaimonLite.readAppendOnly]]). A
    * `TYPE` marker keeps PK and append-only commits from mixing on one
    * table (they have different read disciplines). */
  def appendOnly(spark: SparkSession, tableDir: String, dfIn: DataFrame,
                 partColIn: String,
                 beforeCommit: () => Unit = () => (),
                 overwriteAll: Boolean = false,
                 partTransform: String = "identity",
                 partFields: Seq[(String, String)] = Nil): Long = {
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "snapshot").mkdirs()
    new java.io.File(dir, "manifest").mkdirs()
    // RENAME COLUMN evolution: files store stable WRITE names
    val (df, partCol) = toWriteNames(tableDir, dfIn, partColIn)
    val typePath = java.nio.file.Paths.get(tableDir, "snapshot", "TYPE")
    if (java.nio.file.Files.exists(typePath))
      require(java.nio.file.Files.readString(typePath).trim == "append-only",
        "table is not append-only")
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    val curSnap: Long =
      if (java.nio.file.Files.exists(latestPath))
        java.nio.file.Files.readString(latestPath).trim.toLong
      else 0L
    val snapId = curSnap + 1
    val staging = s"$tableDir/stage_s$snapId"
    // a MULTI-FIELD spec (append-only tables — PK routing stays
    // single-field) stages one __pK directory level per field; the
    // manifest stores the joined \u0001 component tuple (the
    // IcebergWriter spelling) so planFiles prunes on any single
    // component. The data DIRECTORY carries the same joined value
    // VERBATIM: manifest entries reconstruct file paths as
    // part/bucket-N/name from the stored partition value, so the
    // directory and the stored value must be byte-identical.
    if (partFields.size > 1) {
      val pcols = partFields.zipWithIndex.map { case ((c, tr), i) =>
        (s"__p$i", IcebergWriter.transformCol(df, c, tr).cast("string")) }
      pcols.foldLeft(df) { case (acc, (n2, c2)) => acc.withColumn(n2, c2) }
        .repartition(pcols.map(p => col(p._1)): _*)
        .write.partitionBy(pcols.map(_._1): _*)
        .mode("overwrite").parquet(staging)
    } else
      df.withColumn("__part", partExpr(df, partCol, partTransform))
        .repartition(col("__part"))
        .write.partitionBy("__part").mode("overwrite").parquet(staging)
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    def multiPartOf(f: java.io.File): String = {
      val comps = new Array[String](partFields.size)
      var d = f.getParentFile
      var i = partFields.size - 1
      while (i >= 0) {
        val pre = s"__p$i="
        require(d != null && d.getName.startsWith(pre),
          s"staged file ${f.getPath} misses directory level $pre")
        comps(i) = d.getName.stripPrefix(pre)
        d = d.getParentFile
        i -= 1
      }
      comps.foreach(c => require(!c.contains('\u0001') && !c.contains('~'),
        s"partition component '$c' collides with the tuple separators"))
      comps.mkString("\u0001")
    }
    val conf = spark.sessionState.newHadoopConf()
    val adds = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val part =
          if (partFields.size > 1) multiPartOf(f)
          else f.getParentFile.getName.stripPrefix("__part=")
        val rel = s"$part/bucket-0/data-a$snapId-${nextTok()}-$j.parquet"
        val dst = new java.io.File(dir, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        val (rows, bytes, _, _) =
          IcebergWriter.footerStats(dst.getAbsolutePath, conf)
        (PaimonLite.FileMeta(rel, Some(part), bucket = 0, level = 0,
          minSeq = snapId, maxSeq = snapId, rowCount = rows), bytes)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(adds.nonEmpty && adds.map(_._1.rowCount).sum > 0,
      "append of an empty DataFrame is not a commit")
    // optimistic commit loop: append-only rows carry no sequence, so a
    // lost CAS only means renaming the staged files onto the next id
    // and re-stamping metadata — retry is unconditionally safe
    var id = snapId
    var files = adds
    var attempt = 0
    var committed = false
    while (!committed) {
      if (attempt == 0) beforeCommit()
      if (commitSnapshot(tableDir, id, id - 1, files, changelog = Nil,
          overwriteAll = overwriteAll)) {
        committed = true
      } else {
        attempt += 1
        require(attempt < MaxCommitRetries,
          s"append conflict persisted after $MaxCommitRetries attempts")
        val next = probeLatest(tableDir) + 1
        if (java.nio.file.Files.exists(typePath))
          require(java.nio.file.Files.readString(typePath).trim == "append-only",
            "a concurrent writer created this table as primary-key")
        files = files.zipWithIndex.map { case ((m, bytes), j) =>
          val rel = m.path.replaceAll("data-a[^/]*\\.parquet$",
            s"data-a$next-${nextTok()}-$j.parquet")
          java.nio.file.Files.move(
            new java.io.File(dir, m.path).toPath,
            new java.io.File(dir, rel).toPath)
          (m.copy(path = rel, minSeq = next, maxSeq = next), bytes)
        }
        id = next
      }
    }
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST"))) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST"), "1")
      java.nio.file.Files.writeString(typePath, "append-only")
    }
    IcebergWriter.atomicWriteString(latestPath, id.toString)
    id
  }

  /** Exactly-once streaming sink hook, the Paimon sibling of
    * [[IcebergWriter.appendBatch]]: each micro-batch commit stamps its
    * id into the snapshot JSON; a redelivered batch whose id is
    * already on the snapshot chain is skipped (returns None). */
  def appendBatch(spark: SparkSession, tableDir: String, df: DataFrame,
                  partCol: String, keyCols: Seq[String],
                  batchId: Long, numBuckets: Int = 4): Option[Long] =
    if (committedBatchIds(tableDir).contains(batchId)) None
    else {
      // the batch id is re-checked inside append, after snapshot-id
      // resolution and immediately before the commit CAS (see there)
      val id = append(spark, tableDir, df, partCol, keyCols, numBuckets,
        batchId = Some(batchId))
      if (id < 0) None else Some(id)
    }

  /** Batch ids stamped on the snapshot chain by [[appendBatch]]. */
  def committedBatchIds(tableDir: String): Set[Long] = {
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    if (!java.nio.file.Files.exists(latestPath)) Set.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val latest = java.nio.file.Files.readString(latestPath).trim.toLong
      val earliestPath = java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST")
      val earliest =
        if (java.nio.file.Files.exists(earliestPath))
          java.nio.file.Files.readString(earliestPath).trim.toLong
        else 1L
      (earliest to latest).flatMap { id =>
        val node = m.readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$id")))
        Option(node.get("streamingBatchId")).map(_.asLong)
      }.toSet
    }
  }

  /** Bounded optimistic retries for append commits. */
  val MaxCommitRetries = 10

  /** Shared commit tail: manifest, carried-forward base list, delta
    * list, optional CHANGELOG manifest list, snapshot JSON — all named
    * by `snapId` (strictly increasing across retry attempts, so a
    * loser's rewrite never clobbers the winner's artifacts). Returns
    * false when the snapshot CAS lost to a concurrent commit; the
    * caller re-resolves and retries (or fails loudly). LATEST is
    * swapped by the caller (after any creation markers). */
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Writer-unique token for staged artifact names: two writers staging
    * the same prospective snapshot id must never share a file name. */
  private def nextTok(): String =
    s"${ProcessHandle.current().pid()}x${tokenCounter.incrementAndGet()}"

  private def commitSnapshot(tableDir: String, snapId: Long, curSnap: Long,
                             adds: Seq[(PaimonLite.FileMeta, Long)],
                             changelog: Seq[(PaimonLite.FileMeta, Long)],
                             batchId: Option[Long] = None,
                             overwriteAll: Boolean = false,
                             kind: Option[String] = None): Boolean = {
    // manifest/list names carry a writer-unique token: two writers
    // staging the SAME prospective snapshot id must not overwrite each
    // other's artifacts — the snapshot JSON (CAS-created) is the only
    // shared name
    val tok = s"$snapId-${nextTok()}"
    val mName = s"manifest-w$tok"
    PaimonLite.writeManifestAvro(tableDir, mName, adds, Nil)
    // an OVERWRITE snapshot carries NO base manifests: readers at this
    // snapshot see only the new files (the spec's commitKind=OVERWRITE;
    // incremental/changelog readers skip it, Paimon's documented
    // streaming default)
    val prevManifests: Seq[String] =
      if (curSnap == 0L || overwriteAll) Nil
      else PaimonLite.snapshotManifestNames(tableDir, curSnap)
    val baseName = s"manifest-list-w$tok-base"
    val deltaName = s"manifest-list-w$tok-delta"
    PaimonLite.writeManifestListAvro(tableDir, baseName, prevManifests)
    PaimonLite.writeManifestListAvro(tableDir, deltaName, Seq(mName))
    val clField = if (changelog.isEmpty) "" else {
      val clManifest = s"manifest-cl$tok"
      PaimonLite.writeManifestAvro(tableDir, clManifest, changelog, Nil)
      val clList = s"manifest-list-w$tok-changelog"
      PaimonLite.writeManifestListAvro(tableDir, clList, Seq(clManifest))
      s""""changelogManifestList":"$clList","""
    }
    val bField = batchId.map(b => s""""streamingBatchId":$b,""").getOrElse("")
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":${PaimonLite.effectiveSchemaId(tableDir)},
         |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
         |$clField$bField"commitKind":"${kind.getOrElse(
            if (overwriteAll) "OVERWRITE" else "APPEND")}",
         |"timeMillis":${1700000000000L + snapId},
         |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
    IcebergWriter.casCreate(
      java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"),
      snapJson)
  }

  /** The highest snapshot id actually PUBLISHED, by probing snapshot-N
    * files upward from the LATEST hint — a loser must not trust the
    * hint, which the winner updates only after its CAS. */
  private def probeLatest(tableDir: String): Long = {
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    var v: Long =
      if (java.nio.file.Files.exists(latestPath))
        java.nio.file.Files.readString(latestPath).trim.toLong
      else 0L
    while (java.nio.file.Files.exists(
        java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-${v + 1}")))
      v += 1
    v
  }

  /** Append `df` as one APPEND snapshot, creating the table on first
    * use. `df` may carry a `_VALUE_KIND` column (+I/+U/-D codes);
    * absent, every row commits as an insert. With
    * `changelogProducer = true` the commit also emits CHANGELOG files —
    * the spec's changelog-producer = "input": the input records,
    * RowKind kept, persisted as separate `changelog-*` files referenced
    * by the snapshot's changelogManifestList, so streaming readers
    * ([[PaimonLite.readChangelog]]) survive compactions rewriting the
    * data files. Returns the snapshot id, or -1 when `batchId` turned
    * out to be committed by a concurrent sink (re-checked under the
    * commit CAS — see [[appendBatch]]). */
  def append(spark: SparkSession, tableDir: String, dfIn: DataFrame,
             partColIn: String, keyColsIn: Seq[String],
             numBuckets: Int = 4, changelogProducer: Boolean = false,
             batchId: Option[Long] = None,
             beforeCommit: () => Unit = () => (),
             overwriteAll: Boolean = false,
             partTransform: String = "identity"): Long = {
    require(keyColsIn.contains(partColIn),
      "paimon requires the partition column inside the primary key")
    val dir = new java.io.File(tableDir)
    new java.io.File(dir, "snapshot").mkdirs()
    new java.io.File(dir, "manifest").mkdirs()
    // RENAME COLUMN evolution: files store stable WRITE names
    val (df, partCol) = toWriteNames(tableDir, dfIn, partColIn)
    val wn = PaimonLite.writeNames(tableDir)
    val keyCols = keyColsIn.map(c => wn.getOrElse(c, c))

    val typePath0 = java.nio.file.Paths.get(tableDir, "snapshot", "TYPE")
    if (java.nio.file.Files.exists(typePath0))
      require(java.nio.file.Files.readString(typePath0).trim == "primary-key",
        "table is append-only — PK commits have a different read discipline")
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    val curSnap: Long =
      if (java.nio.file.Files.exists(latestPath))
        java.nio.file.Files.readString(latestPath).trim.toLong
      else 0L
    // the LSM bucket contract: a key's writes must always land in the
    // same bucket, so the bucket count is fixed at table creation (real
    // Paimon stores it in the table schema options)
    val bucketsPath = java.nio.file.Paths.get(tableDir, "snapshot", "BUCKETS")
    if (curSnap > 0L && java.nio.file.Files.exists(bucketsPath))
      require(java.nio.file.Files.readString(bucketsPath).trim.toInt == numBuckets,
        s"bucket count $numBuckets differs from the table's " +
          s"${java.nio.file.Files.readString(bucketsPath).trim} — keys would change buckets")
    // next sequence floor: above every live file's max sequence
    val lastSeq: Long =
      if (curSnap == 0L) 0L
      else PaimonLite.planFiles(tableDir).map(_.maxSeq).foldLeft(0L)(math.max)
    val snapId = curSnap + 1

    require(!df.isEmpty, "append of an empty DataFrame is not a commit")
    val withKind =
      if (df.columns.contains("_VALUE_KIND")) df
      else df.withColumn("_VALUE_KIND", lit(PaimonLite.KindInsert))
    val staged = withKind
      .withColumn("_SEQUENCE_NUMBER",
        lit(lastSeq + 1) + monotonically_increasing_id())
      .withColumn("__part", partExpr(withKind, partCol, partTransform))
      .withColumn("__bucket", pmod(hash(keyCols.map(col): _*), lit(numBuckets)))
    val staging = s"$tableDir/stage_s$snapId"
    staged.repartition(col("__part"), col("__bucket"))
      .write.partitionBy("__part", "__bucket")
      .mode("overwrite").parquet(staging)

    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val conf = spark.sessionState.newHadoopConf()
    val adds = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val bucketDir = f.getParentFile.getName // __bucket=B
        val partDir = f.getParentFile.getParentFile.getName // __part=P
        require(partDir.startsWith("__part=") && bucketDir.startsWith("__bucket="),
          s"unexpected staging layout: $partDir/$bucketDir")
        val part = partDir.stripPrefix("__part=")
        val bucket = bucketDir.stripPrefix("__bucket=").toInt
        val rel = s"$part/bucket-$bucket/data-w$snapId-${nextTok()}-$j.parquet"
        val dst = new java.io.File(dir, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        val (rows, bytes, lo, hi) =
          IcebergWriter.footerStats(dst.getAbsolutePath, conf)
        val meta = PaimonLite.FileMeta(rel, Some(part), bucket, level = 0,
          minSeq = lo.getOrElse("_SEQUENCE_NUMBER", 0L),
          maxSeq = hi.getOrElse("_SEQUENCE_NUMBER", 0L),
          rowCount = rows)
        (meta, bytes)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    require(adds.nonEmpty, "append of an empty DataFrame is not a commit")

    // changelog-producer = input: the committed input records persist a
    // second time as changelog-* files (same bytes, separate identity —
    // a later compaction rewriting the DATA files must not take the
    // changelog with it). The CHANGELOG marker keeps the producer
    // setting consistent across commits: a gap in the changelog stream
    // is silent data loss for a streaming reader.
    val clPath = java.nio.file.Paths.get(tableDir, "snapshot", "CHANGELOG")
    if (curSnap > 0L)
      require(java.nio.file.Files.exists(clPath) == changelogProducer,
        "changelog-producer setting must not change mid-table")

    // exactly-once re-check UNDER the commit: a concurrent sink may
    // have committed this batch between the caller's pre-check and the
    // snapshot-id resolution above — in that window snapId resolved
    // fresh, so commitSnapshot's CAS would succeed and the batch would
    // land twice. A commit arriving between THIS check and the CAS
    // necessarily owns snapshot-(snapId), so the CAS fails loudly — no
    // silent window remains. Staged data files are removed on skip.
    if (batchId.exists(committedBatchIds(tableDir).contains)) {
      adds.foreach { case (m, _) =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tableDir, m.path)): Unit
      }
      return -1L
    }
    def makeChangelog(files: Seq[(PaimonLite.FileMeta, Long)])
        : Seq[(PaimonLite.FileMeta, Long)] =
      if (!changelogProducer) Nil
      else files.map { case (m, bytes) =>
        val name = m.path.split("/").last
        val clRel = m.path.stripSuffix(name) + s"changelog-$name"
        java.nio.file.Files.copy(
          new java.io.File(dir, m.path).toPath,
          new java.io.File(dir, clRel).toPath)
        (m.copy(path = clRel), bytes)
      }

    // optimistic commit loop. A retry is SAFE only when the
    // interleaved commits touch a DISJOINT key set: our rows'
    // _SEQUENCE_NUMBER floor resolved against the pre-conflict state,
    // so sequence ranges interleave with the winner's — harmless
    // per-key-disjoint (the LSM merge orders per key), a lost-update
    // hazard on overlap. The validation reads only the winner's DELTA
    // files against our staged files (both delta-sized), the standard
    // OCC validate-then-retry; overlap fails loudly.
    var id = snapId
    var files = adds
    var attempt = 0
    var committed = false
    var skipped = false
    var validatedUpTo = curSnap
    while (!committed && !skipped) {
      if (batchId.exists(committedBatchIds(tableDir).contains)) {
        files.foreach { case (m, _) =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(tableDir, m.path)): Unit
        }
        skipped = true
      } else {
        if (attempt == 0) beforeCommit()
        val changelog = makeChangelog(files)
        if (commitSnapshot(tableDir, id, id - 1, files, changelog, batchId,
            overwriteAll = overwriteAll)) {
          committed = true
        } else {
          changelog.foreach { case (m, _) =>
            java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(tableDir, m.path)): Unit
          }
          attempt += 1
          require(attempt < MaxCommitRetries,
            s"append conflict persisted after $MaxCommitRetries attempts")
          val latest = probeLatest(tableDir)
          if (java.nio.file.Files.exists(bucketsPath))
            require(java.nio.file.Files.readString(bucketsPath).trim.toInt == numBuckets,
              "a concurrent writer fixed a different bucket count")
          val winnerFiles = ((validatedUpTo + 1) to latest)
            .flatMap(PaimonLite.snapshotDeltaFiles(tableDir, _))
            .map(rel => s"$tableDir/$rel")
          if (winnerFiles.nonEmpty) {
            import org.apache.spark.sql.functions.col
            val overlap = LakeFiles.scan(spark, winnerFiles)
              .select(keyCols.map(col): _*)
              .join(LakeFiles.scan(spark, files.map(f => s"$tableDir/${f._1.path}"))
                .select(keyCols.map(col): _*), keyCols, "left_semi")
              .limit(1).count()
            require(overlap == 0L,
              "append conflicts with a concurrent commit on the SAME keys " +
                "— sequence order between them would be arbitrary; re-run " +
                "the append against the new table state")
          }
          validatedUpTo = latest
          val next = latest + 1
          files = files.zipWithIndex.map { case ((m, bytes), j) =>
            val rel = m.path.replaceAll("data-w[^/]*\\.parquet$",
              s"data-w$next-${nextTok()}-$j.parquet")
            java.nio.file.Files.move(
              new java.io.File(dir, m.path).toPath,
              new java.io.File(dir, rel).toPath)
            (m.copy(path = rel), bytes)
          }
          id = next
        }
      }
    }
    if (skipped) return -1L
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST"))) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST"), "1")
      java.nio.file.Files.writeString(bucketsPath, numBuckets.toString)
      java.nio.file.Files.writeString(typePath0, "primary-key")
      if (changelogProducer) java.nio.file.Files.writeString(clPath, "input")
    }
    // LATEST is the commit point: publish atomically (temp + rename)
    // so a concurrent reader never observes a truncated hint
    IcebergWriter.atomicWriteString(latestPath, id.toString)
    id
  }

  /** ADD COLUMN schema evolution (the spec's `schema/schema-N` files):
    * write the next schema file with the new NULLABLE field appended —
    * no data movement; [[PaimonLite]] plans scans with the latest
    * declared schema, so pre-evolution files read the column as NULL.
    * CAS-created: concurrent ALTERs fail loudly. Returns the new
    * schema id. */
  def addColumn(spark: SparkSession, tableDir: String,
                name: String, sqlType: String): Long =
    evolveSchema(spark, tableDir) { cur =>
      require(!cur.exists(_._1 == name), s"column $name already exists")
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(sqlType)
      cur :+ ((name, name, dt))
    }

  /** ALTER COLUMN TYPE widening: a new `schema-N` with the field
    * re-typed (sanctioned promotions only) — metadata-only; the
    * declared-schema LSM scan up-casts older files' narrower physical
    * types natively. PRIMARY KEY columns are refused at the SQL route:
    * Spark's long hash differs from its int hash, so widening a key
    * would move keys across LSM buckets. */
  def widenColumn(spark: SparkSession, tableDir: String,
                  name: String, sqlType: String): Long =
    evolveSchema(spark, tableDir) { cur =>
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(sqlType)
      val f = cur.find(_._1 == name).getOrElse(sys.error(s"no column $name"))
      TypeWiden.check(name, f._3, dt)
      cur.map { case (l, w, t) => if (l == name) (l, w, dt) else (l, w, t) }
    }

  /** DROP COLUMN: a new `schema-N` without the field — metadata-only;
    * data files keep the bytes, the declared-schema scan never reads
    * them. */
  def dropColumn(spark: SparkSession, tableDir: String, name: String): Long =
    evolveSchema(spark, tableDir) { cur =>
      require(cur.exists(_._1 == name), s"no column $name")
      val next = cur.filterNot(_._1 == name)
      require(next.nonEmpty, "cannot drop the last column")
      next
    }

  /** RENAME COLUMN: a new `schema-N` where the field keeps its stable
    * WRITE name (what the LSM files store — the name-mapping analog of
    * Paimon's field ids) and only the logical name changes. */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Long =
    evolveSchema(spark, tableDir) { cur =>
      require(cur.exists(_._1 == from), s"no column $from")
      require(!cur.exists(_._1 == to), s"column $to already exists")
      cur.map { case (l, w, dt) => if (l == from) (to, w, dt) else (l, w, dt) }
    }

  /** One `schema-N` evolution step over (logical, write, type) fields;
    * CAS-created, loud on a concurrent ALTER. `activatesWithSnapshot`
    * marks the file INERT until a snapshot stamped with its id lands
    * (the retype rewrite's single-visibility-point discipline —
    * [[PaimonLite.declaredFields]] documents the resolution rule). */
  private def evolveSchema(spark: SparkSession, tableDir: String,
                           activatesWithSnapshot: Boolean = false)
      (f: Seq[(String, String, org.apache.spark.sql.types.DataType)] =>
        Seq[(String, String, org.apache.spark.sql.types.DataType)]): Long = {
    import org.apache.spark.sql.types._
    val cur: Seq[(String, String, DataType)] =
      PaimonLite.declaredFields(tableDir).getOrElse {
        // pre-evolution table: the data columns are one live file's
        // parquet schema minus the LSM system columns
        val files = PaimonLite.planFiles(tableDir)
        require(files.nonEmpty, "table has no live files")
        LakeFiles.footerSchema(spark, s"$tableDir/${files.head.path}")
          .fields.toSeq.filterNot(x =>
            x.name == "_SEQUENCE_NUMBER" || x.name == "_VALUE_KIND")
          .map(x => (x.name, x.name, x.dataType))
      }
    val evolved = f(cur)
    val schemaDir = new java.io.File(tableDir, "schema")
    schemaDir.mkdirs()
    // ids start at 1 when no schema file exists: id 0 is reserved for
    // the created-empty declaration (schema-0) so a snapshot stamped 0
    // on a never-declared table resolves to "read each file's own
    // parquet schema" on travel, never to the first ALTER's output
    val nextId = Option(schemaDir.listFiles()).getOrElse(Array.empty)
      .flatMap(x => "^schema-(\\d+)$".r.findFirstMatchIn(x.getName)
        .map(_.group(1).toLong))
      .foldLeft(0L)(math.max) + 1
    val fieldsJson = evolved.zipWithIndex.map { case ((l, w, dt), i) =>
      val writeAttr = if (w != l) s""","writeName":"$w"""" else ""
      s"""{"id":$i,"name":"$l","type":"${PaimonLite.paimonTypeName(dt)}"$writeAttr}"""
    }.mkString(",")
    val pendAttr =
      if (activatesWithSnapshot) ""","activatesWithSnapshot":true""" else ""
    require(IcebergWriter.casCreate(
        java.nio.file.Paths.get(tableDir, "schema", s"schema-$nextId"),
        s"""{"id":$nextId$pendAttr,"fields":[$fieldsJson]}"""),
      s"schema-$nextId conflicts with a concurrent ALTER — rerun")
    if (!activatesWithSnapshot) {
      // r16: the ALTER becomes a TRAVEL POINT — an empty APPEND
      // snapshot stamped with the new schemaId (commitSnapshot resolves
      // effectiveSchemaId, which is now `nextId`), so FOR VERSION AS OF
      // can land BETWEEN a data snapshot and this ALTER. Feeds stay
      // quiet (the delta manifest is empty). Tables without a snapshot
      // chain yet (created empty, pre-first-commit) have no coordinate
      // space and skip — the schema file alone declares them, as
      // before. Pending (retype) schemas never snapshot here: their
      // single visibility point is the rewrite's own COMPACT CAS.
      var cur0 = probeLatest(tableDir)
      if (cur0 > 0L) {
        var attempt = 0
        while (!commitSnapshot(tableDir, cur0 + 1, cur0, Nil, Nil,
            kind = Some("SCHEMA"))) {
          attempt += 1
          require(attempt < MaxCommitRetries,
            s"ALTER snapshot lost $MaxCommitRetries races — giving up")
          cur0 = probeLatest(tableDir)
        }
        IcebergWriter.atomicWriteString(
          java.nio.file.Paths.get(tableDir, "snapshot", "LATEST"),
          (cur0 + 1).toString)
      }
    }
    nextId
  }

  /** VALUE-REWRITING RETYPE (`ALTER COLUMN ... TYPE`, the rewrite
    * tier): the r14 refusal named the two-swap-point problem — a
    * schema file and a data commit cannot land atomically. Closed by
    * ORDERING plus the pending rule: the rewritten files stage
    * (invisible), the new schema-N lands marked `activatesWithSnapshot`
    * (INERT — readers keep resolving the old schema), and the COMPACT
    * snapshot stamped with the new schemaId is the SINGLE visibility
    * point: its CAS flips data and schema together. A crash anywhere
    * before the CAS leaves the table readable under its OLD schema.
    *
    * The rewrite itself is full-compaction semantics with the column
    * cast: per-(partition, bucket) winner merge over ALL live files
    * (every bucket rewrites completely, so tombstone winners drop
    * soundly), staged at MaxLevel, sequence numbers carried VERBATIM so
    * later upserts order correctly. Stamped COMPACT, so changelog/
    * incremental readers stay quiet (state motion, the delta/iceberg
    * retype discipline). Travel is VERSION-SCOPED: a read at a
    * PRE-retype snapshot resolves that snapshot's stamped schemaId
    * ([[PaimonLite]] snapshot reads), so old narrow files read under
    * their own declared type, value-exact. Empty tables (no snapshot
    * or no live files) retype metadata-only. */
  def retypeColumn(spark: SparkSession, tableDir: String, colName: String,
                   newTypeSql: String, keyColsIn: Seq[String],
                   partColIn: String,
                   partTransform: String = "identity"): Long = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.expressions.Window
    val newType = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(newTypeSql)
    val wn = PaimonLite.writeNames(tableDir)
    val keyCols = keyColsIn.map(c => wn.getOrElse(c, c))
    val partCol = wn.getOrElse(partColIn, partColIn)
    val colW = wn.getOrElse(colName, colName)
    require(!keyCols.contains(colW) && colW != partCol,
      s"cannot retype key/partition column $colName")
    def retypeFields(cur: Seq[(String, String, DataType)]) = {
      val f = cur.find(_._1 == colName).getOrElse(sys.error(s"no column $colName"))
      require(TypeWiden.retypeOk(f._3, newType),
        s"retype ${f._3.simpleString} -> ${newType.simpleString} is not sanctioned")
      cur.map { case (l, w, t) => if (l == colName) (l, w, newType) else (l, w, t) }
    }
    val typePath = java.nio.file.Paths.get(tableDir, "snapshot", "TYPE")
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    val hasData = java.nio.file.Files.exists(latestPath) &&
      PaimonLite.planFiles(tableDir).nonEmpty
    if (!hasData)
      // nothing to rewrite: the schema activates on write
      return evolveSchema(spark, tableDir)(retypeFields)
    require(java.nio.file.Files.exists(typePath) &&
      java.nio.file.Files.readString(typePath).trim == "primary-key",
      "paimon retype rewrites through the LSM merge — PRIMARY KEY tables only")
    val curSnap = PaimonLite.latestSnapshotId(tableDir)
    val files = PaimonLite.planFiles(tableDir)
    val buckets = java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "snapshot", "BUCKETS")).trim.toInt
    // read EVERY live file under the OLD declared write schema
    val raw = PaimonLite.readWriteNamed(spark, tableDir,
      files.map(f => s"$tableDir/${f.path}"), withSystem = true)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_SEQUENCE_NUMBER").desc, col("_VALUE_KIND").desc)
    val winners = raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .filter(col("_VALUE_KIND").isin(
        PaimonLite.KindInsert, PaimonLite.KindUpdateAfter))
      .withColumn(colW, col(colW).cast(newType))
    val snapId = curSnap + 1
    val staging = s"$tableDir/stage_rt$snapId"
    winners
      .withColumn("__part", partExpr(winners, partCol, partTransform))
      .withColumn("__bucket", pmod(hash(keyCols.map(col): _*), lit(buckets)))
      .repartition(col("__part"), col("__bucket"))
      .write.partitionBy("__part", "__bucket")
      .mode("overwrite").parquet(staging)
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val conf = spark.sessionState.newHadoopConf()
    val dir = new java.io.File(tableDir)
    val adds = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val bucketDir = f.getParentFile.getName
        val partDir = f.getParentFile.getParentFile.getName
        require(partDir.startsWith("__part=") && bucketDir.startsWith("__bucket="),
          s"unexpected staging layout: $partDir/$bucketDir")
        val part = partDir.stripPrefix("__part=")
        val bucket = bucketDir.stripPrefix("__bucket=").toInt
        val rel = s"$part/bucket-$bucket/data-rt$snapId-${nextTok()}-$j.parquet"
        val dst = new java.io.File(dir, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        val (rows, bytes, lo, hi) =
          IcebergWriter.footerStats(dst.getAbsolutePath, conf)
        (PaimonLite.FileMeta(rel, Some(part), bucket, level = MaxLevel,
          minSeq = lo.getOrElse("_SEQUENCE_NUMBER", 0L),
          maxSeq = hi.getOrElse("_SEQUENCE_NUMBER", 0L),
          rowCount = rows), bytes)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    // the pending schema (inert until the snapshot below lands)
    val newId = evolveSchema(spark, tableDir,
      activatesWithSnapshot = true)(retypeFields)
    val tok = s"$snapId-${nextTok()}"
    val mName = s"manifest-rt$tok"
    PaimonLite.writeManifestAvro(tableDir, mName, adds, files)
    val baseName = s"manifest-list-rt$tok-base"
    val deltaName = s"manifest-list-rt$tok-delta"
    PaimonLite.writeManifestListAvro(tableDir, baseName,
      PaimonLite.snapshotManifestNames(tableDir, curSnap))
    PaimonLite.writeManifestListAvro(tableDir, deltaName, Seq(mName))
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":$newId,
         |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
         |"commitKind":"COMPACT",
         |"timeMillis":${1700000000000L + snapId},
         |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
    val won = IcebergWriter.casCreate(
      java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"),
      snapJson)
    if (!won) {
      adds.foreach { case (m, _) =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tableDir, m.path)): Unit
      }
      // the never-activated schema dies with its rewrite
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(tableDir, "schema", s"schema-$newId")): Unit
      sys.error("retype lost the snapshot CAS to a concurrent commit — " +
        "its rewrite is stale against the moved table; re-run")
    }
    IcebergWriter.atomicWriteString(latestPath, snapId.toString)
    snapId
  }

  /** logical → write-name rename of `df` plus the write-named partition
    * column (no-op when the table never renamed). */
  private def toWriteNames(tableDir: String, df: DataFrame, partCol: String)
      : (DataFrame, String) = {
    val wn = PaimonLite.writeNames(tableDir)
    val renamed =
      if (df.columns.forall(c => wn.getOrElse(c, c) == c)) df
      else df.select(df.columns.toSeq.map(c => col(c).as(wn.getOrElse(c, c))): _*)
    (renamed, wn.getOrElse(partCol, partCol))
  }

  /** CREATE an EMPTY table (standard DDL): declare the schema as
    * `schema/schema-0` (the spec's schema file) with NO snapshot — the
    * first append creates snapshot 1 and stamps TYPE/BUCKETS as usual.
    * Reads return a declared-schema empty frame until then. */
  def createEmpty(spark: SparkSession, tableDir: String,
                  schema: org.apache.spark.sql.types.StructType): Unit = {
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(tableDir, "schema", "schema-0")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")),
      s"table already exists at $tableDir")
    declareSchema0(tableDir, schema.fields.toSeq,
      "empty-table creation lost a race with a concurrent writer")
  }

  /** Declare `fields` as `schema/schema-0` (put-if-absent). */
  private def declareSchema0(tableDir: String,
                             fields: Seq[org.apache.spark.sql.types.StructField],
                             raceMsg: String): Unit = {
    new java.io.File(tableDir, "schema").mkdirs()
    val fieldsJson = fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":$i,"name":"${f.name}","type":"${PaimonLite.paimonTypeName(f.dataType)}"}"""
    }.mkString(",")
    require(IcebergWriter.casCreate(
        java.nio.file.Paths.get(tableDir, "schema", "schema-0"),
        s"""{"id":0,"fields":[$fieldsJson]}"""), raceMsg)
  }

  /** TRUNCATE TABLE: ONE commitKind=OVERWRITE snapshot carrying no base
    * manifests and an EMPTY delta manifest — all rows gone atomically;
    * older snapshots travel until expiry. No-op (returns -1) on an
    * already-empty table. */
  def truncate(spark: SparkSession, tableDir: String): Long = {
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    if (!java.nio.file.Files.exists(latestPath)) return -1L // created empty
    if (PaimonLite.planFiles(tableDir).isEmpty) return -1L
    // a pre-DDL table's only schema source is its data files — capture
    // it as schema-0 BEFORE the rows go, so post-truncate reads (and
    // later inserts) keep their shape (one footer read)
    if (PaimonLite.declaredFields(tableDir).isEmpty) {
      val head = PaimonLite.planFiles(tableDir).head
      val fields = LakeFiles.footerSchema(spark, s"$tableDir/${head.path}")
        .fields.toSeq.filterNot(x =>
          x.name == "_SEQUENCE_NUMBER" || x.name == "_VALUE_KIND")
      declareSchema0(tableDir, fields,
        "TRUNCATE lost a schema-declaration race — rerun")
    }
    val curSnap = PaimonLite.latestSnapshotId(tableDir)
    val snapId = curSnap + 1
    val tok = s"$snapId-${nextTok()}"
    val mName = s"manifest-t$tok"
    PaimonLite.writeManifestAvro(tableDir, mName, Nil, Nil)
    val baseName = s"manifest-list-t$tok-base"
    val deltaName = s"manifest-list-t$tok-delta"
    PaimonLite.writeManifestListAvro(tableDir, baseName, Nil)
    PaimonLite.writeManifestListAvro(tableDir, deltaName, Seq(mName))
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":${PaimonLite.effectiveSchemaId(tableDir)},
         |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
         |"commitKind":"OVERWRITE",
         |"timeMillis":${1700000000000L + snapId},
         |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
    require(IcebergWriter.casCreate(
      java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"),
      snapJson), "TRUNCATE lost the snapshot CAS — rerun")
    IcebergWriter.atomicWriteString(latestPath, snapId.toString)
    snapId
  }

  /** TRUNCATE one PARTITION: one OVERWRITE snapshot whose delta
    * manifest DELETEs every live file of that partition — pure
    * metadata (no data bytes move; expiry reclaims later), the
    * partition-scoped sibling of [[truncate]]. Returns -1 (no-op) when
    * the partition holds no live files. */
  def truncatePartition(tableDir: String, partValue: String): Long = {
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    require(java.nio.file.Files.exists(latestPath), "empty table")
    val curSnap = PaimonLite.latestSnapshotId(tableDir)
    val victims = PaimonLite.planFiles(tableDir)
      .filter(_.part.contains(partValue))
    if (victims.isEmpty) return -1L
    val snapId = curSnap + 1
    val tok = s"$snapId-${nextTok()}"
    val mName = s"manifest-tp$tok"
    PaimonLite.writeManifestAvro(tableDir, mName, Nil, victims)
    val baseName = s"manifest-list-tp$tok-base"
    val deltaName = s"manifest-list-tp$tok-delta"
    PaimonLite.writeManifestListAvro(tableDir, baseName,
      PaimonLite.snapshotManifestNames(tableDir, curSnap))
    PaimonLite.writeManifestListAvro(tableDir, deltaName, Seq(mName))
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":${PaimonLite.effectiveSchemaId(tableDir)},
         |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
         |"commitKind":"OVERWRITE",
         |"timeMillis":${1700000000000L + snapId},
         |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
    require(IcebergWriter.casCreate(
      java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"),
      snapJson),
      "TRUNCATE PARTITION lost the snapshot CAS to a concurrent commit — rerun")
    IcebergWriter.atomicWriteString(latestPath, snapId.toString)
    snapId
  }

  /** COMPACTION (the OPTIMIZE verb's paimon spelling): per
    * (partition, bucket) whose LSM holds more than one file or any
    * level-0 file, merge under the deduplicate engine — choosing FULL
    * or PARTIAL (leveled) per bucket by COMPACTION DEBT:
    *
    *  - FULL (the spec's full-compaction): every file of the bucket
    *    merges into ONE max-level file. Retraction winners (-U/-D)
    *    DROP — sound only here, because nothing below is left to mask.
    *  - PARTIAL (the spec's leveled compaction): when the bucket's
    *    already-compacted tail dominates its level-0 debt (non-L0
    *    bytes > 4× L0 bytes), ONLY the level-0 files merge, into one
    *    file at an INTERMEDIATE level — and retraction winners are
    *    KEPT: a -D below max level must keep masking the older rows in
    *    the untouched files (dropping it would resurrect them). Sound
    *    because only non-winning input rows are removed — each had a
    *    higher (seq, kind) sibling among the inputs, so the global
    *    per-key merge result is unchanged. OPTIMIZE on a huge bucket
    *    thus pays O(new data), not a full-bucket rewrite.
    *
    * Commits ONE snapshot with commitKind=COMPACT whose delta manifest
    * DELETEs the inputs and ADDs the outputs — state motion, not
    * change: incremental/changelog readers skip it, older snapshots
    * still see the pre-compaction files until expiry reclaims them.
    * Single-shot on CAS loss like the other rewrite verbs — a stale
    * merge must not retry against a moved table. Distributed: the merge
    * is one (part, bucket) repartition; the driver sees footer stats
    * and file-length metadata only. Returns the COMPACT snapshot id,
    * or -1 when nothing needs compacting. */
  def compact(spark: SparkSession, tableDir: String,
              keyColsIn: Seq[String], partColIn: String,
              partTransform: String = "identity"): Long = {
    val typePath = java.nio.file.Paths.get(tableDir, "snapshot", "TYPE")
    require(java.nio.file.Files.exists(typePath) &&
      java.nio.file.Files.readString(typePath).trim == "primary-key",
      "compact targets PRIMARY KEY tables (append-only has no merge debt)")
    val wn = PaimonLite.writeNames(tableDir)
    val keyCols = keyColsIn.map(c => wn.getOrElse(c, c))
    val curSnap = PaimonLite.latestSnapshotId(tableDir)
    val files = PaimonLite.planFiles(tableDir)
    val byBucket = files.groupBy(f => (f.part, f.bucket))
    val targets = byBucket.filter { case (_, fs) =>
      fs.size > 1 || fs.exists(_.level == 0)
    }
    if (targets.isEmpty) return -1L
    // per-bucket debt policy: (inputs, output level, dropDeletes)
    val groups: Map[(Option[String], Int), (Seq[PaimonLite.FileMeta], Int, Boolean)] =
      targets.map { case (pb, fs) =>
        val l0 = fs.filter(_.level == 0)
        val rest = fs.filterNot(_.level == 0)
        def sz(xs: Seq[PaimonLite.FileMeta]): Long =
          xs.map(f => new java.io.File(tableDir, f.path).length()).sum
        pb -> (
          if (l0.nonEmpty && rest.nonEmpty && sz(rest) > 4L * sz(l0))
            (l0, math.min(MaxLevel - 1, l0.map(_.level).max + 1), false)
          else (fs, MaxLevel, true))
      }
    val inputs = groups.values.flatMap(_._1).toSeq
    val snapId = curSnap + 1
    val buckets = java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "snapshot", "BUCKETS")).trim.toInt
    // merge per key over the chosen INPUT files only (untouched buckets
    // and a partial bucket's compacted tail carry forward verbatim):
    // max-(seq, kind) row wins — the same order readSnapshot uses.
    // WRITE-NAMED read: the staged output becomes data files, and the
    // window keys / bucket hash are write-named too (a logical-aliased
    // frame would rename columns inside a renamed table's files —
    // later scans would silently null-fill them)
    val data = PaimonLite.readWriteNamed(spark, tableDir,
      inputs.map(f => s"$tableDir/${f.path}"), withSystem = true)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_SEQUENCE_NUMBER").desc, col("_VALUE_KIND").desc)
    val winners = data.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // rows re-derive (part, bucket) exactly as append() stamped them:
    // part = cast(partCol as string), bucket = pmod(hash(keys), buckets)
    val partCol = wn.getOrElse(partColIn, partColIn)
    require(keyCols.contains(partCol),
      "paimon requires the partition column inside the primary key")
    // tombstone winners drop on FULL buckets only (metadata-sized map).
    // The stored FileMeta.part is the HIVE-ESCAPED staging dir name
    // (NULL → __HIVE_DEFAULT_PARTITION__, special chars %-escaped), so
    // the per-row lookup key derives through the SAME escaping
    // partitionBy applies — a raw __part would NULL-propagate through
    // concat (or miss on an escaped value) and an unmapped key must
    // default to KEEP, never drop: keeping a tombstone is always sound
    // (the read-side merge folds a kept -D winner away at any level),
    // dropping one below max level resurrects the rows it masks.
    val dropMap = typedLit(groups.map { case ((p, b), (_, _, drop)) =>
      s"${p.getOrElse("")}|$b" -> drop })
    val escapePart = udf((s: String) =>
      if (s == null)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME
      else
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(s))
    val staged = winners
      .withColumn("__part", partExpr(winners, partCol, partTransform))
      .withColumn("__bucket", pmod(hash(keyCols.map(col): _*), lit(buckets)))
      .filter(!coalesce(element_at(dropMap,
        concat(escapePart(col("__part")), lit("|"), col("__bucket"))),
        lit(false)) ||
        col("_VALUE_KIND").isin(PaimonLite.KindInsert, PaimonLite.KindUpdateAfter))
    val staging = s"$tableDir/stage_c$snapId"
    staged.repartition(col("__part"), col("__bucket"))
      .write.partitionBy("__part", "__bucket")
      .mode("overwrite").parquet(staging)
    def parquetsUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetsUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val conf = spark.sessionState.newHadoopConf()
    val dir = new java.io.File(tableDir)
    val adds = parquetsUnder(new java.io.File(staging))
      .sortBy(_.getAbsolutePath)
      .zipWithIndex.map { case (f, j) =>
        val bucketDir = f.getParentFile.getName
        val partDir = f.getParentFile.getParentFile.getName
        require(partDir.startsWith("__part=") && bucketDir.startsWith("__bucket="),
          s"unexpected staging layout: $partDir/$bucketDir")
        val part = partDir.stripPrefix("__part=")
        val bucket = bucketDir.stripPrefix("__bucket=").toInt
        val rel = s"$part/bucket-$bucket/data-c$snapId-${nextTok()}-$j.parquet"
        val dst = new java.io.File(dir, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        val (rows, bytes, lo, hi) =
          IcebergWriter.footerStats(dst.getAbsolutePath, conf)
        val outLevel = groups.get((Some(part), bucket)).map(_._2)
          .getOrElse(MaxLevel)
        (PaimonLite.FileMeta(rel, Some(part), bucket, level = outLevel,
          minSeq = lo.getOrElse("_SEQUENCE_NUMBER", 0L),
          maxSeq = hi.getOrElse("_SEQUENCE_NUMBER", 0L),
          rowCount = rows), bytes)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    // adds MAY be empty: a bucket holding only tombstone winners
    // rewrites to nothing — the COMPACT snapshot still commits its
    // DELETE entries (that is the reclaim)
    // COMPACT snapshot: base = previous manifests, delta = DELETE(inputs)
    // + ADD(outputs)
    val tok = s"$snapId-${nextTok()}"
    val mName = s"manifest-c$tok"
    PaimonLite.writeManifestAvro(tableDir, mName, adds, inputs)
    val baseName = s"manifest-list-c$tok-base"
    val deltaName = s"manifest-list-c$tok-delta"
    PaimonLite.writeManifestListAvro(tableDir, baseName,
      PaimonLite.snapshotManifestNames(tableDir, curSnap))
    PaimonLite.writeManifestListAvro(tableDir, deltaName, Seq(mName))
    val snapJson =
      s"""{"version":3,"id":$snapId,"schemaId":${PaimonLite.effectiveSchemaId(tableDir)},
         |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
         |"commitKind":"COMPACT",
         |"timeMillis":${1700000000000L + snapId},
         |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
    val won = IcebergWriter.casCreate(
      java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"), snapJson)
    if (!won) {
      adds.foreach { case (m, _) =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tableDir, m.path)): Unit
      }
      sys.error("compaction lost the snapshot CAS to a concurrent commit — " +
        "its merge is stale against the moved table; re-run compact")
    }
    IcebergWriter.atomicWriteString(
      java.nio.file.Paths.get(tableDir, "snapshot", "LATEST"), snapId.toString)
    snapId
  }

  /** The LSM's highest level — where full compaction lands its rewrites
    * (real Paimon's num-levels default minus one; the exact number only
    * orders levels, readers never branch on it). */
  val MaxLevel = 5

  /** SNAPSHOT EXPIRY (the spec's snapshot.num-retained.* retention):
    * keep the most recent `keepLast` snapshots, advance EARLIEST, and
    * physically delete everything only expired snapshots reach — data
    * files, changelog files, manifests, manifest lists, and the
    * snapshot JSONs themselves. Metadata-sized driver work (the
    * reachability fold is over manifest contents); expired-snapshot
    * reads fail loudly afterwards. Returns deleted paths — the Paimon
    * spelling of [[IcebergWriter.expireSnapshots]]. */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val latest = PaimonLite.latestSnapshotId(tableDir)
    val earliestPath = java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST")
    val earliest =
      if (java.nio.file.Files.exists(earliestPath))
        java.nio.file.Files.readString(earliestPath).trim.toLong
      else 1L
    if (latest - earliest + 1 <= keepLast) return Nil
    val newEarliest = latest - keepLast + 1
    val (keptData, keptManifests) = (newEarliest to latest)
      .map(PaimonLite.snapshotArtifacts(tableDir, _))
      .foldLeft((Set.empty[String], Set.empty[String])) {
        case ((d, m), (d2, m2)) => (d ++ d2, m ++ m2)
      }
    val deleted = Seq.newBuilder[String]
    (earliest until newEarliest).foreach { id =>
      val (data, manifests) = PaimonLite.snapshotArtifacts(tableDir, id)
      (data -- keptData).foreach { rel =>
        val f = new java.io.File(tableDir, rel)
        if (f.delete()) deleted += f.getAbsolutePath
      }
      (manifests -- keptManifests).foreach { name =>
        val f = new java.io.File(s"$tableDir/manifest/$name")
        if (f.delete()) deleted += f.getAbsolutePath
      }
    }
    // EARLIEST advances (atomically) BEFORE the snapshot JSONs are
    // physically deleted: committedBatchIds/readChangelog iterate
    // earliest..latest reading each snapshot file, so publishing the
    // new floor first means no reader ever dereferences an id whose
    // JSON this expiry is about to remove — a crash mid-delete leaves
    // only unreferenced garbage, never a broken table
    IcebergWriter.atomicWriteString(earliestPath, newEarliest.toString)
    (earliest until newEarliest).foreach { id =>
      val f = new java.io.File(s"$tableDir/snapshot/snapshot-$id")
      if (f.delete()) deleted += f.getAbsolutePath
    }
    deleted.result()
  }
}
