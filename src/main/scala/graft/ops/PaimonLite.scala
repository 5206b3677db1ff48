package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Apache Paimon TABLE-FORMAT read path from the PUBLIC spec
  * (paimon.apache.org/docs — "Basic Concepts" / "File Layouts"), no
  * connector jar: the fourth lakehouse format next to [[IcebergLite]],
  * [[DeltaLite]] and [[HudiLite]] (reference:
  * fe/fe-core/src/main/java/org/apache/doris/datasource/paimon/ —
  * Doris's FE reads Paimon tables through the same published layout).
  *
  * The layout, exactly as the spec draws it:
  *   snapshot/LATEST (hint: latest id) → snapshot/snapshot-N (JSON:
  *   baseManifestList + deltaManifestList + commitKind) →
  *   manifest/manifest-list-* (Avro: which manifests) →
  *   manifest/manifest-* (Avro: ADD/DELETE file entries with
  *   partition, bucket, level, sequence range) →
  *   <partition>/bucket-B/data-*.parquet.
  *
  * Primary-key tables are LSM trees per bucket: data files carry the
  * system columns `_SEQUENCE_NUMBER` (monotone per write) and
  * `_VALUE_KIND` (RowKind: 0=+I, 1=-U, 2=+U, 3=-D). The snapshot read
  * under the default "deduplicate" merge engine keeps, per key, the
  * row with the LARGEST sequence number — and drops the key entirely
  * when that winner is a retraction (-U/-D).
  *
  * Spark-first mapping:
  *  - snapshot/manifest chain is METADATA-sized → driver (FE role);
  *    partition pruning on manifest entries BEFORE any footer opens;
  *  - the LSM merge is declared, not hand-scheduled: one distributed
  *    parquet scan of the live files + a key-window
  *    `row_number() over (partition by key order by _SEQUENCE_NUMBER
  *    desc) = 1` + a RowKind filter. Paimon buckets rows by key hash,
  *    so on a real deployment this window's shuffle is bucket-local by
  *    construction; the portable Spark spelling is a plain window and
  *    AQE handles skewed keys.
  *  - COMPACT snapshots replay as ADD+DELETE manifest entries — the
  *    reader proves replay correctness non-circularly because a missed
  *    DELETE would double every compacted row against the oracle;
  *  - incremental reads = the deltaManifestList files of APPEND
  *    snapshots in (from, to], skipping COMPACT/OVERWRITE snapshots
  *    exactly as the spec's streaming read does — the rows carry their
  *    RowKind, i.e. a real changelog.
  *
  * Honest scope (documented, not hidden): identity partition values
  * serialized as strings (real Paimon serializes a BinaryRow); merge
  * engines covered are deduplicate ([[readSnapshot]]), partial-update
  * ([[readSnapshotPartialUpdate]]) and aggregation
  * ([[readSnapshotAggMerge]]); the writer below is fixture
  * scaffolding — the single-writer commit path lives in
  * [[PaimonWriter]], the production concurrent-commit protocol stays
  * connector territory. Correctness is non-circular: the
  * `src_paimon_*` oracles recompute expected content from the base
  * lineitem table by predicate. */
object PaimonLite {

  /** RowKind codes, as the spec orders them. */
  val KindInsert = 0
  val KindUpdateBefore = 1
  val KindUpdateAfter = 2
  val KindDelete = 3

  // ---------------------------------------------------------------- schemas
  private val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file_meta","fields":[
      |{"name":"_FILE_NAME","type":"string"},
      |{"name":"_FILE_SIZE","type":"long"},
      |{"name":"_NUM_ADDED_FILES","type":"long"},
      |{"name":"_NUM_DELETED_FILES","type":"long"},
      |{"name":"_SCHEMA_ID","type":"long"}]}""".stripMargin)

  private val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"_KIND","type":"int"},
      |{"name":"_PARTITION","type":["null","string"],"default":null},
      |{"name":"_BUCKET","type":"int"},
      |{"name":"_FILE","type":{"type":"record","name":"data_file_meta","fields":[
      |  {"name":"_FILE_NAME","type":"string"},
      |  {"name":"_FILE_SIZE","type":"long"},
      |  {"name":"_ROW_COUNT","type":"long"},
      |  {"name":"_MIN_SEQUENCE_NUMBER","type":"long"},
      |  {"name":"_MAX_SEQUENCE_NUMBER","type":"long"},
      |  {"name":"_LEVEL","type":"int"}]}}]}""".stripMargin)

  /** One live file as planned from the metadata chain. `path` is
    * table-relative (partition/bucket dirs included), as the spec
    * stores it. */
  final case class FileMeta(path: String, part: Option[String], bucket: Int,
                            level: Int, minSeq: Long, maxSeq: Long,
                            rowCount: Long)

  private def mapper = new ObjectMapper()

  // ---------------------------------------------------------------- reader
  def latestSnapshotId(tableDir: String): Long =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")).trim.toLong

  /** Timestamp travel: the latest snapshot committed at or before
    * `tsMillis` (snapshot JSONs carry timeMillis). */
  def snapshotIdAsOf(tableDir: String, tsMillis: Long): Long = {
    val latest = latestSnapshotId(tableDir)
    val earliestPath = java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST")
    val earliest =
      if (java.nio.file.Files.exists(earliestPath))
        java.nio.file.Files.readString(earliestPath).trim.toLong
      else 1L
    val ids = (earliest to latest).filter(id =>
      snapshotNode(tableDir, id).get("timeMillis").asLong <= tsMillis)
    require(ids.nonEmpty, s"no snapshot at or before $tsMillis")
    ids.max
  }

  private def snapshotNode(tableDir: String, id: Long) = {
    val p = java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$id")
    require(java.nio.file.Files.exists(p), s"snapshot $id not in $tableDir/snapshot")
    mapper.readTree(java.nio.file.Files.readString(p))
  }

  private def readAvro(path: String): Seq[GenericRecord] = {
    val in = new DataFileStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (in.hasNext) out += in.next()
      out.result()
    } finally in.close()
  }

  /** Paimon-style SQL type names for the schema files (the subset the
    * writers produce). */
  private[ops] def paimonTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case StringType => "STRING"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      // any other type in Spark's SQL spelling, which the schema-file
      // parser reads back
      case other => other.sql
    }
  }

  /** The latest declared fields (highest `schema/schema-N`) as
    * (logical name, WRITE name, type). The write name is the stable
    * column name data files store — RENAME COLUMN changes only the
    * logical name (the name-mapping trick Paimon spells with field
    * ids). None when the table never evolved. */
  /** VERSION-SCOPED overload: resolve exactly `schema-$schemaId`
    * (travel reads — the snapshot's stamp IS its activated schema);
    * None when the file is absent (a snapshot stamped 0 on a
    * never-declared table reads each file's own parquet schema —
    * schema ids from ALTERs start at 1, id 0 is the created-empty
    * declaration). */
  def declaredFields(tableDir: String, schemaId: Option[Long])
      : Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] =
    schemaId match {
      case None => declaredFields(tableDir)
      case Some(id) =>
        val f = new java.io.File(tableDir, s"schema/schema-$id")
        if (!f.exists()) None else Some(parseSchemaFile(f))
    }

  def declaredFields(tableDir: String)
      : Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
    val schemaDir = new java.io.File(tableDir, "schema")
    val all = Option(schemaDir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^schema-(\\d+)$".r.findFirstMatchIn(f.getName)
        .map(m => (m.group(1).toLong, f)))
      .sortBy(_._1)
    // the EFFECTIVE schema: metadata-only evolutions (add/drop/rename/
    // widen) activate on write, but a schema marked
    // `activatesWithSnapshot` (the retype rewrite's) stays INERT until
    // a snapshot stamped with its id (or later) lands — the snapshot
    // CAS is then the retype's single visibility point, closing the
    // two-swap-point window the r14 refusal named (a crash between the
    // schema write and the data commit leaves the table readable under
    // its OLD schema, never a string schema over integer files)
    def pending(f: java.io.File): Boolean =
      Option(mapper.readTree(java.nio.file.Files.readString(f.toPath))
        .get("activatesWithSnapshot")).exists(_.asBoolean)
    // fast path: the HIGHEST schema wins whenever it is unmarked (the
    // common case — pending files exist only mid-retype), so only its
    // one file is read; the full sweep runs only when it is marked
    val latest: Option[java.io.File] =
      if (all.isEmpty) None
      else if (!pending(all.last._2)) all.lastOption.map(_._2)
      else {
        val stamp = currentSchemaStamp(tableDir)
        all.filter { case (id, f) => !pending(f) || id <= stamp }
          .lastOption.map(_._2)
      }
    latest.map(parseSchemaFile)
  }

  private def parseSchemaFile(f: java.io.File)
      : Seq[(String, String, org.apache.spark.sql.types.DataType)] = {
    val node = mapper.readTree(java.nio.file.Files.readString(f.toPath))
    val fields = node.get("fields")
    (0 until fields.size).map(fields.get).map { fn =>
      val name = fn.get("name").asText
      (name,
        Option(fn.get("writeName")).map(_.asText).getOrElse(name),
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(fn.get("type").asText))
    }
  }

  /** A TRAVELED snapshot's stamped schemaId — the version-scoped
    * schema travel reads resolve ([[declaredFields]] overload); None
    * for a current read (effective-schema rule). */
  private def travelSchemaId(tableDir: String, snapshotId: Option[Long])
      : Option[Long] =
    snapshotId.flatMap(id =>
      Option(snapshotNode(tableDir, id).get("schemaId")).map(_.asLong))

  /** The CURRENT snapshot's stamped schemaId — -1 when the table has no
    * snapshot yet (a pending schema then stays inert). */
  private def currentSchemaStamp(tableDir: String): Long = {
    val latestPath = java.nio.file.Paths.get(tableDir, "snapshot", "LATEST")
    if (!java.nio.file.Files.exists(latestPath)) -1L
    else Option(snapshotNode(tableDir, latestSnapshotId(tableDir))
      .get("schemaId")).map(_.asLong).getOrElse(0L)
  }

  /** The schema id writers stamp on new snapshots: the effective
    * schema's id (0 when the table never declared one) — a commit after
    * a retype must carry the retype's id forward, or the pending rule
    * would deactivate it. */
  def effectiveSchemaId(tableDir: String): Long = {
    val schemaDir = new java.io.File(tableDir, "schema")
    val all = Option(schemaDir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^schema-(\\d+)$".r.findFirstMatchIn(f.getName)
        .map(m => (m.group(1).toLong, f)))
      .sortBy(_._1)
    if (all.isEmpty) 0L
    else {
      def pending(f: java.io.File): Boolean =
        Option(mapper.readTree(java.nio.file.Files.readString(f.toPath))
          .get("activatesWithSnapshot")).exists(_.asBoolean)
      if (!pending(all.last._2)) all.last._1 // fast path, as declaredFields
      else {
        val stamp = currentSchemaStamp(tableDir)
        all.filter { case (id, f) => !pending(f) || id <= stamp }
          .lastOption.map(_._1).getOrElse(0L)
      }
    }
  }

  /** The latest declared schema as the LOGICAL data columns — system
    * columns (_SEQUENCE_NUMBER/_VALUE_KIND) are appended by the PK read
    * path. None when the table never evolved (pre-evolution tables read
    * by parquet schema). */
  def declaredSchema(tableDir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    declaredFields(tableDir).map(fs =>
      org.apache.spark.sql.types.StructType(fs.map { case (l, _, dt) =>
        org.apache.spark.sql.types.StructField(l, dt, nullable = true) }))

  /** logical → write-name map of the current schema (identity when the
    * table never declared one). */
  def writeNames(tableDir: String): Map[String, String] =
    declaredFields(tableDir)
      .map(_.map { case (l, w, _) => l -> w }.toMap).getOrElse(Map.empty)

  /** Plan the parquet scan of `paths` under the declared schema when
    * one exists (+ the PK system columns when `withSystem`) — files
    * written before an ADD COLUMN null-fill natively, no footer sweep.
    * The scan plans WRITE names and aliases to logical immediately
    * (RENAME COLUMN is metadata-only). */
  /** Like [[readAligned]] but KEEPING the stored WRITE names — for
    * writers whose staged OUTPUT becomes data files again (compaction,
    * retype): staging a logical-aliased frame would rename columns
    * inside a renamed table's data files, and later write-named scans
    * would silently null-fill them. */
  private[ops] def readWriteNamed(spark: SparkSession, tableDir: String,
                                  paths: Seq[String],
                                  withSystem: Boolean): DataFrame =
    declaredFields(tableDir, None) match {
      case Some(fs) =>
        import org.apache.spark.sql.types._
        val sys =
          if (!withSystem) Array.empty[StructField]
          else Array(StructField("_SEQUENCE_NUMBER", LongType),
            StructField("_VALUE_KIND", IntegerType))
        spark.read.schema(StructType(fs.map { case (_, w, dt) =>
          StructField(w, dt, nullable = true) }.toArray ++ sys))
          .parquet(paths: _*)
      case None => LakeFiles.scan(spark, paths)
    }

  private[ops] def readAligned(spark: SparkSession, tableDir: String,
                               paths: Seq[String],
                               withSystem: Boolean,
                               schemaId: Option[Long] = None): DataFrame =
    declaredFields(tableDir, schemaId) match {
      case Some(fs) =>
        import org.apache.spark.sql.types._
        val sys =
          if (!withSystem) Array.empty[StructField]
          else Array(StructField("_SEQUENCE_NUMBER", LongType),
            StructField("_VALUE_KIND", IntegerType))
        val writeSchema = StructType(fs.map { case (_, w, dt) =>
          StructField(w, dt, nullable = true) }.toArray ++ sys)
        val raw = spark.read.schema(writeSchema).parquet(paths: _*)
        if (fs.forall { case (l, w, _) => l == w }) raw
        else raw.select(fs.map { case (l, w, _) => col(w).as(l) } ++
          sys.toSeq.map(f => col(f.name)): _*)
      case None => LakeFiles.scan(spark, paths)
    }

  private def manifestEntries(tableDir: String, manifestListName: String)
      : Seq[GenericRecord] =
    readAvro(s"$tableDir/manifest/$manifestListName").flatMap { mf =>
      readAvro(s"$tableDir/manifest/${mf.get("_FILE_NAME")}")
    }

  /** Replay base + delta manifests of a snapshot (default: LATEST):
    * ADD registers a file, DELETE (compaction) drops it by name.
    * `partFilter` prunes on the identity partition value before any
    * data file is listed — the FE-role prune. */
  def planFiles(tableDir: String, snapshotId: Option[Long] = None,
                partFilter: Option[String => Boolean] = None): Seq[FileMeta] = {
    val id = snapshotId.getOrElse(latestSnapshotId(tableDir))
    val snap = snapshotNode(tableDir, id)
    val entries =
      manifestEntries(tableDir, snap.get("baseManifestList").asText) ++
        manifestEntries(tableDir, snap.get("deltaManifestList").asText)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileMeta]
    entries.foreach { e =>
      val f = e.get("_FILE").asInstanceOf[GenericRecord]
      val part = Option(e.get("_PARTITION")).map(_.toString)
      val rel = part.map(p => s"$p/").getOrElse("") +
        s"bucket-${e.get("_BUCKET")}/${f.get("_FILE_NAME")}"
      e.get("_KIND").asInstanceOf[Int] match {
        case 0 => live(rel) = FileMeta(rel, part,
          e.get("_BUCKET").asInstanceOf[Int], f.get("_LEVEL").asInstanceOf[Int],
          f.get("_MIN_SEQUENCE_NUMBER").asInstanceOf[Long],
          f.get("_MAX_SEQUENCE_NUMBER").asInstanceOf[Long],
          f.get("_ROW_COUNT").asInstanceOf[Long])
        case 1 => live.remove(rel)
        case k => throw new IllegalStateException(s"unknown manifest kind $k")
      }
    }
    live.values.toSeq.filter(m => partFilter.forall(f => m.part.forall(f)))
  }

  /** Snapshot read of a PRIMARY-KEY table under the deduplicate merge
    * engine: per key the max-sequence row wins; retraction winners
    * (-U/-D) drop the key. Returns value columns only (system columns
    * consumed by the merge). */
  def readSnapshot(spark: SparkSession, tableDir: String, keyCols: Seq[String],
                   snapshotId: Option[Long] = None,
                   partFilter: Option[String => Boolean] = None): DataFrame = {
    val files = planFiles(tableDir, snapshotId, partFilter)
    require(files.nonEmpty, s"no live files after replay/pruning in $tableDir")
    // travel reads resolve the TRAVELED snapshot's stamped schema
    // (version-scoped — a pre-retype snapshot reads its own old type)
    val data = readAligned(spark, tableDir,
      files.map(f => s"$tableDir/${f.path}"), withSystem = true,
      schemaId = travelSchemaId(tableDir, snapshotId))
    // Real Paimon guarantees per-bucket-unique sequence numbers; rather
    // than assume the precondition, break seq ties deterministically by
    // RowKind (the retraction wins the tie and the key drops) so a
    // violated precondition still reads the same rows every run.
    // mergeDriverLocal mirrors this order.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_SEQUENCE_NUMBER").desc, col("_VALUE_KIND").desc)
    data.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 &&
        col("_VALUE_KIND").isin(KindInsert, KindUpdateAfter))
      .drop("__rn", "_SEQUENCE_NUMBER", "_VALUE_KIND")
  }

  /** PARTIAL-UPDATE merge engine (spec "Merge Engine" → partial-update
    * with remove-record-on-delete): per key, fold the rows in SEQUENCE
    * order — each record's non-null values overwrite the accumulated
    * row, a -U/-D retraction clears it entirely, and later records
    * rebuild from scratch. Spelled as ONE key shuffle with no UDF: the
    * per-key fold is `aggregate(array_sort(collect_list(struct(...))))`
    * — a sequential semantic that stays inside codegen because the
    * per-key row count is the LSM update depth, not the corpus size. */
  def readSnapshotPartialUpdate(spark: SparkSession, tableDir: String,
                                keyCols: Seq[String],
                                snapshotId: Option[Long] = None,
                                partFilter: Option[String => Boolean] = None)
      : DataFrame = {
    val files = planFiles(tableDir, snapshotId, partFilter)
    require(files.nonEmpty, s"no live files after replay/pruning in $tableDir")
    val data = readAligned(spark, tableDir,
      files.map(f => s"$tableDir/${f.path}"), withSystem = true,
      schemaId = travelSchemaId(tableDir, snapshotId))
    val valueCols = data.schema.fields
      .filterNot(f => keyCols.contains(f.name) ||
        f.name == "_SEQUENCE_NUMBER" || f.name == "_VALUE_KIND").toSeq
    // seq first so array_sort's natural struct order IS sequence order
    val rowStruct = struct(
      (col("_SEQUENCE_NUMBER") +: col("_VALUE_KIND") +:
        valueCols.map(f => col(f.name))): _*)
    val init = struct(
      (lit(false).as("__present") +:
        valueCols.map(f => lit(null).cast(f.dataType).as(f.name))): _*)
    val folded = data.groupBy(keyCols.map(col): _*)
      .agg(aggregate(
        array_sort(collect_list(rowStruct)),
        init,
        (acc, x) => when(
          x.getField("_VALUE_KIND").isin(KindUpdateBefore, KindDelete),
          init // retraction resets the row
        ).otherwise(struct(
          (lit(true).as("__present") +:
            valueCols.map(f => coalesce(x.getField(f.name), acc.getField(f.name))
              .as(f.name))): _*))
      ).as("__acc"))
    folded.filter(col("__acc.__present"))
      .select((keyCols.map(col) ++
        valueCols.map(f => col(s"__acc.${f.name}").as(f.name))): _*)
  }

  /** AGGREGATION merge engine (spec "Merge Engine" → aggregation): per
    * key, each value column combines under its declared function —
    * reusing [[TableModels.AggType]] finalize semantics (the reference
    * AGG-keys model analog: Sum/Min/Max/Replace/ReplaceIfNotNull over
    * the sequence). Retractions are out of scope for this engine
    * (loudly rejected), matching the spec's default aggregates, which
    * do not support retract inputs. */
  def readSnapshotAggMerge(spark: SparkSession, tableDir: String,
                           keyCols: Seq[String],
                           specs: Seq[(String, TableModels.AggType)],
                           snapshotId: Option[Long] = None,
                           partFilter: Option[String => Boolean] = None)
      : DataFrame = {
    val files = planFiles(tableDir, snapshotId, partFilter)
    require(files.nonEmpty, s"no live files after replay/pruning in $tableDir")
    val data = readAligned(spark, tableDir,
      files.map(f => s"$tableDir/${f.path}"), withSystem = true,
      schemaId = travelSchemaId(tableDir, snapshotId))
    val withGuard = data.filter(
      when(col("_VALUE_KIND").isin(KindInsert, KindUpdateAfter), lit(true))
        .otherwise(raise_error(concat(lit(
          "aggregation merge engine does not accept retractions: kind="),
          col("_VALUE_KIND")))))
    TableModels.aggView(withGuard, keyCols, "_SEQUENCE_NUMBER", specs)
  }

  /** Read `files` under the schema STAMPED ON THEIR SNAPSHOT and align
    * to the CURRENT declared schema: columns match by stable WRITE name
    * (so a later RENAME cannot desync frames), values cast to the
    * current type (a later retype's cast — digit-preserving by the
    * retype tier's sanction), columns added since null-fill, columns
    * dropped since drop. This is what lets a changelog/incremental
    * window SPAN a schema evolution instead of reading old narrow files
    * under the new declared type. */
  private def readSnapshotScoped(spark: SparkSession, tableDir: String,
                                 files: Seq[String], schemaId: Long)
      : DataFrame = {
    import org.apache.spark.sql.types._
    declaredFields(tableDir) match {
      case None =>
        // never-declared table: nothing ever evolved, plain read
        readAligned(spark, tableDir, files, withSystem = true)
      case Some(cur) =>
        val raw = declaredFields(tableDir, Some(schemaId)) match {
          case Some(old) =>
            spark.read.schema(StructType(old.map { case (_, w, dt) =>
              StructField(w, dt, nullable = true) }.toArray ++ Array(
              StructField("_SEQUENCE_NUMBER", LongType),
              StructField("_VALUE_KIND", IntegerType))))
              .parquet(files: _*)
          case None =>
            // stamped 0 on a then-undeclared table (ALTER ids start at
            // 1): each file's own parquet schema, stored WRITE names
            LakeFiles.scan(spark, files)
        }
        val rawCols = raw.columns.toSet
        raw.select(cur.map { case (l, w, dt) =>
          (if (rawCols.contains(w)) col(w).cast(dt)
           else lit(null).cast(dt)).as(l)
        } ++ Seq("_SEQUENCE_NUMBER", "_VALUE_KIND")
          .filter(rawCols.contains).map(col(_)): _*)
    }
  }

  /** Incremental CHANGELOG read over (fromSnapshot, toSnapshot]: the
    * delta files of APPEND snapshots in the window, RowKind column
    * kept (`_VALUE_KIND`) — COMPACT/OVERWRITE snapshots are skipped,
    * as the spec's streaming read does (compaction rewrites state, it
    * is not new data). Each snapshot's files resolve under its own
    * stamped schemaId and align to the current schema
    * ([[readSnapshotScoped]]), so windows span evolutions. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId < toSnapshotId,
      s"from ($fromSnapshotId) must precede to ($toSnapshotId)")
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Long, Vector[String]]
    ((fromSnapshotId + 1) to toSnapshotId).foreach { id =>
      val snap = snapshotNode(tableDir, id)
      if (snap.get("commitKind").asText == "APPEND") {
        val fs = manifestEntries(tableDir, snap.get("deltaManifestList").asText)
          .filter(_.get("_KIND").asInstanceOf[Int] == 0)
          .map { e =>
            val f = e.get("_FILE").asInstanceOf[GenericRecord]
            val part = Option(e.get("_PARTITION")).map(p => s"$p/").getOrElse("")
            s"$tableDir/${part}bucket-${e.get("_BUCKET")}/${f.get("_FILE_NAME")}"
          }
        if (fs.nonEmpty) {
          val sid = Option(snap.get("schemaId")).map(_.asLong).getOrElse(0L)
          groups(sid) = groups.getOrElse(sid, Vector.empty) ++ fs
        }
      }
    }
    // a window of pure state motion is EMPTY, not loud (r16: SCHEMA
    // snapshots bump the coordinate without moving data)
    if (groups.isEmpty) return feedShapedEmpty(spark, tableDir)
    groups.toSeq.map { case (sid, fs) =>
      readSnapshotScoped(spark, tableDir, fs, sid)
    }.reduce(_ unionByName _).drop("_SEQUENCE_NUMBER")
  }

  /** APPEND-ONLY (non-PK) table read — the spec's "Append Table": no
    * merge, no system columns, a plain scan of the live files after
    * the same snapshot/manifest replay and partition prune. */
  def readAppendOnly(spark: SparkSession, tableDir: String,
                     snapshotId: Option[Long] = None,
                     partFilter: Option[String => Boolean] = None): DataFrame = {
    val files = planFiles(tableDir, snapshotId, partFilter)
    require(files.nonEmpty, s"no live files after replay/pruning in $tableDir")
    readAligned(spark, tableDir,
      files.map(f => s"$tableDir/${f.path}"), withSystem = false,
      schemaId = travelSchemaId(tableDir, snapshotId))
  }

  /** CHANGELOG read over (fromSnapshot, toSnapshot] against a table
    * written with changelog-producer = input: each snapshot's
    * changelogManifestList names the persisted changelog files — the
    * stream survives compactions rewriting the data files, which is
    * the reason the producer exists. RowKind kept (`_VALUE_KIND`).
    * Loud when a snapshot in the window carries no changelog (the
    * table was not written with a producer — falling back to delta
    * files would silently change semantics under compaction). Each
    * snapshot's changelog files resolve under its own stamped schemaId
    * and align to the current schema ([[readSnapshotScoped]]), so a
    * window spanning a retype COMPACT reads pre-retype changelog files
    * under their own narrow type and casts, instead of failing (or
    * silently misreading) them under the new declared type. */
  def readChangelog(spark: SparkSession, tableDir: String,
                    fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId < toSnapshotId,
      s"from ($fromSnapshotId) must precede to ($toSnapshotId)")
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Long, Vector[String]]
    ((fromSnapshotId + 1) to toSnapshotId).foreach { id =>
      val snap = snapshotNode(tableDir, id)
      // COMPACT snapshots are STATE MOTION and carry no changelog —
      // surviving them is the producer's whole point (the persisted
      // changelog files keep streaming while compaction rewrites the
      // data files); SCHEMA snapshots (r16: a metadata-only ALTER's
      // travel point) move no data either; a data-changing snapshot
      // without a changelog (no-producer table, OVERWRITE) stays loud
      if (snap.get("commitKind").asText != "COMPACT" &&
          snap.get("commitKind").asText != "SCHEMA") {
        val cl = snap.get("changelogManifestList")
        require(cl != null,
          s"snapshot $id has no changelogManifestList — table written " +
            "without changelog-producer")
        val fs = manifestEntries(tableDir, cl.asText)
          .filter(_.get("_KIND").asInstanceOf[Int] == 0)
          .map { e =>
            val f = e.get("_FILE").asInstanceOf[GenericRecord]
            val part = Option(e.get("_PARTITION")).map(p => s"$p/").getOrElse("")
            s"$tableDir/${part}bucket-${e.get("_BUCKET")}/${f.get("_FILE_NAME")}"
          }
        if (fs.nonEmpty) {
          val sid = Option(snap.get("schemaId")).map(_.asLong).getOrElse(0L)
          groups(sid) = groups.getOrElse(sid, Vector.empty) ++ fs
        }
      }
    }
    // a window of pure state motion (COMPACT / SCHEMA snapshots only,
    // r16: metadata-only ALTERs bump the coordinate) is EMPTY, not loud
    if (groups.isEmpty) return feedShapedEmpty(spark, tableDir)
    groups.toSeq.map { case (sid, fs) =>
      readSnapshotScoped(spark, tableDir, fs, sid)
    }.reduce(_ unionByName _).drop("_SEQUENCE_NUMBER")
  }

  /** The empty change frame in feed shape: current declared columns +
    * `_VALUE_KIND` — what a window holding only state motion returns. */
  private def feedShapedEmpty(spark: SparkSession,
                              tableDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dataSchema = declaredSchema(tableDir).getOrElse {
      val files = planFiles(tableDir)
      require(files.nonEmpty, "empty window on a table with no live " +
        "files and no declared schema")
      StructType(LakeFiles.footerSchema(spark, s"$tableDir/${files.head.path}")
        .filterNot(f => f.name == "_SEQUENCE_NUMBER" || f.name == "_VALUE_KIND"))
    }
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(dataSchema.fields :+
        StructField("_VALUE_KIND", IntegerType, nullable = false)))
  }

  // ------------------------------------------------------- writer (fixture)
  /** One staged write: rows must already carry `_SEQUENCE_NUMBER` and
    * `_VALUE_KIND` (the fixture assigns them the way a real writer
    * would — monotone per commit). */
  final case class Write(part: Option[String], bucket: Int, level: Int,
                         rows: Seq[Row])

  /** One commit = one snapshot. `removes` are table-relative paths of
    * files this commit's DELETE manifest entries drop (compaction). */
  final case class Commit(kind: String, writes: Seq[Write],
                          removes: Seq[FileMeta] = Nil)

  /** Stage a layout-shaped Paimon table (driver staging — test
    * scaffolding): snapshot JSON chain with LATEST/EARLIEST hints,
    * cumulative base + per-commit delta manifest lists, manifest avro
    * with ADD/DELETE entries, data files under partition/bucket dirs. */
  def writeFixtureTable(spark: SparkSession, tableDir: String,
                        schemaWithSys: org.apache.spark.sql.types.StructType,
                        commits: Seq[Commit]): Unit = {
    val dir = new java.io.File(tableDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    new java.io.File(dir, "snapshot").mkdirs()
    new java.io.File(dir, "manifest").mkdirs()

    def writeParquetFile(rows: Seq[Row], target: java.io.File): Long = {
      target.getParentFile.mkdirs()
      val tmp = s"$tableDir/tmp_stage"
      spark.createDataFrame(
          new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
          schemaWithSys)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, target.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      target.length()
    }

    def writeManifest(name: String,
                      adds: Seq[(FileMeta, Long)], dels: Seq[FileMeta]): Unit =
      writeManifestAvro(tableDir, name, adds, dels)

    def writeManifestList(name: String, manifestNames: Seq[String]): Unit =
      writeManifestListAvro(tableDir, name, manifestNames)

    val allManifests = scala.collection.mutable.ArrayBuffer.empty[String]
    commits.zipWithIndex.foreach { case (c, i) =>
      val snapId = i + 1
      val adds = c.writes.zipWithIndex.map { case (wr, j) =>
        val seqs = wr.rows.map(_.getLong(schemaWithSys.fieldIndex("_SEQUENCE_NUMBER")))
        val rel = wr.part.map(p => s"$p/").getOrElse("") +
          s"bucket-${wr.bucket}/data-s$snapId-$j.parquet"
        val meta = FileMeta(rel, wr.part, wr.bucket, wr.level,
          seqs.min, seqs.max, wr.rows.size.toLong)
        val size = writeParquetFile(wr.rows, new java.io.File(dir, rel))
        (meta, size)
      }
      val mName = s"manifest-$snapId"
      writeManifest(mName, adds, c.removes)
      val baseName = s"manifest-list-$snapId-base"
      val deltaName = s"manifest-list-$snapId-delta"
      writeManifestList(baseName, allManifests.toSeq)
      writeManifestList(deltaName, Seq(mName))
      allManifests += mName
      val snapJson =
        s"""{"version":3,"id":$snapId,"schemaId":0,
           |"baseManifestList":"$baseName","deltaManifestList":"$deltaName",
           |"commitKind":"${c.kind}","timeMillis":${1700000000000L + i},
           |"totalRecordCount":0,"deltaRecordCount":0}""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tableDir, "snapshot", s"snapshot-$snapId"), snapJson)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "snapshot", "EARLIEST"), "1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "snapshot", "LATEST"),
      commits.size.toString)
  }

  /** Write one manifest avro of ADD (and DELETE) file entries — shared
    * by the fixture writer and [[PaimonWriter]]. */
  private[ops] def writeManifestAvro(tableDir: String, name: String,
                                     adds: Seq[(FileMeta, Long)],
                                     dels: Seq[FileMeta]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ManifestEntrySchema))
    w.create(ManifestEntrySchema, new java.io.File(s"$tableDir/manifest/$name"))
    def entry(kind: Int, m: FileMeta, size: Long): GenericRecord = {
      val f = new GenericData.Record(ManifestEntrySchema.getField("_FILE").schema)
      f.put("_FILE_NAME", m.path.split("/").last)
      f.put("_FILE_SIZE", size)
      f.put("_ROW_COUNT", m.rowCount)
      f.put("_MIN_SEQUENCE_NUMBER", m.minSeq)
      f.put("_MAX_SEQUENCE_NUMBER", m.maxSeq)
      f.put("_LEVEL", m.level)
      val e = new GenericData.Record(ManifestEntrySchema)
      e.put("_KIND", kind)
      e.put("_PARTITION", m.part.orNull)
      e.put("_BUCKET", m.bucket)
      e.put("_FILE", f)
      e
    }
    adds.foreach { case (m, size) => w.append(entry(0, m, size)) }
    dels.foreach { m => w.append(entry(1, m, 0L)) }
    w.close()
  }

  /** Write one manifest-list avro referencing `manifestNames` (each
    * must already exist under manifest/). */
  private[ops] def writeManifestListAvro(tableDir: String, name: String,
                                         manifestNames: Seq[String]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ManifestListSchema))
    w.create(ManifestListSchema, new java.io.File(s"$tableDir/manifest/$name"))
    manifestNames.foreach { mn =>
      val r = new GenericData.Record(ManifestListSchema)
      r.put("_FILE_NAME", mn)
      r.put("_FILE_SIZE", new java.io.File(s"$tableDir/manifest/$mn").length())
      r.put("_NUM_ADDED_FILES", 0L)
      r.put("_NUM_DELETED_FILES", 0L)
      r.put("_SCHEMA_ID", 0L)
      w.append(r)
    }
    w.close()
  }

  /** Manifest names referenced by a snapshot's base + delta lists —
    * what an appending writer must carry forward. */
  /** The data files one snapshot ADDED (its delta manifest only) —
    * table-relative paths; what a retrying concurrent appender
    * validates its keys against. */
  private[ops] def snapshotDeltaFiles(tableDir: String, id: Long): Seq[String] = {
    val snap = snapshotNode(tableDir, id)
    manifestEntries(tableDir, snap.get("deltaManifestList").asText)
      .filter(_.get("_KIND").asInstanceOf[Int] == 0)
      .map { e =>
        val f = e.get("_FILE").asInstanceOf[GenericRecord]
        Option(e.get("_PARTITION")).map(p => s"$p/").getOrElse("") +
          s"bucket-${e.get("_BUCKET")}/${f.get("_FILE_NAME")}"
      }
  }

  private[ops] def snapshotManifestNames(tableDir: String, id: Long): Seq[String] = {
    val snap = snapshotNode(tableDir, id)
    Seq(snap.get("baseManifestList").asText, snap.get("deltaManifestList").asText)
      .flatMap(l => readAvro(s"$tableDir/manifest/$l").map(_.get("_FILE_NAME").toString))
  }

  /** Everything one snapshot makes reachable — (table-relative data
    * paths incl. its changelog files, manifest/ file names incl. the
    * lists) — the reachability unit [[PaimonWriter.expireSnapshots]]
    * folds over kept snapshots. */
  private[ops] def snapshotArtifacts(tableDir: String, id: Long)
      : (Set[String], Set[String]) = {
    val snap = snapshotNode(tableDir, id)
    val lists = Seq("baseManifestList", "deltaManifestList", "changelogManifestList")
      .flatMap(f => Option(snap.get(f)).map(_.asText))
    val manifests = lists.flatMap(l =>
      readAvro(s"$tableDir/manifest/$l").map(_.get("_FILE_NAME").toString))
    val clData = Option(snap.get("changelogManifestList")).map(_.asText).toSeq
      .flatMap(l => manifestEntries(tableDir, l)
        .filter(_.get("_KIND").asInstanceOf[Int] == 0)
        .map { e =>
          val f = e.get("_FILE").asInstanceOf[GenericRecord]
          Option(e.get("_PARTITION")).map(p => s"$p/").getOrElse("") +
            s"bucket-${e.get("_BUCKET")}/${f.get("_FILE_NAME")}"
        })
    (planFiles(tableDir, Some(id)).map(_.path).toSet ++ clData,
      (lists ++ manifests).toSet)
  }

  /** Driver-side reference of the deduplicate merge for fixture
    * compaction output: per key keep the max-seq row, drop retraction
    * winners. Rows are (key..., values..., seq, kind) in `schema`
    * order. */
  def mergeDriverLocal(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
                       keyCols: Seq[String]): Seq[Row] = {
    val ki = keyCols.map(schema.fieldIndex)
    val si = schema.fieldIndex("_SEQUENCE_NUMBER")
    val vi = schema.fieldIndex("_VALUE_KIND")
    rows.groupBy(r => ki.map(r.get))
      .values.map(_.maxBy(r => (r.getLong(si), r.getInt(vi)))).toSeq
      .filter(r => r.getInt(vi) == KindInsert || r.getInt(vi) == KindUpdateAfter)
  }
}
