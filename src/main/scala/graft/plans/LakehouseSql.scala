package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{DeltaLite, DeltaWriter, HudiLite, IcebergLite, IcebergWriter, PaimonLite, PaimonWriter}

/** SQL surface for the in-repo lakehouse writers — the `graft_iceberg`
  * / `graft_delta` / `graft_hudi` / `graft_paimon` catalog names
  * (deliberately NOT the connector strings: everything routes through
  * the repo's own readers/writers, no jars). Reference shape: the
  * multi-catalog DDL/DML surface of fe/fe-core/.../datasource/ — here
  * re-expressed as a pre-parse statement route in [[GraftSqlParser]],
  * the same mechanism WITH RECURSIVE uses (RecursiveSql.scala).
  *
  * Grammar (own catalogs, spec-minimal):
  *   CREATE [OR REPLACE] TABLE graft_<fmt>.<name>
  *     [PRIMARY KEY (k, ...)] [PARTITIONED BY (p)] AS <select>
  *   INSERT INTO graft_<fmt>.<name> <select>
  *   DELETE FROM graft_<fmt>.<name> WHERE <cond>   (all four: position
  *     deletes / deletion vectors / -D rows / delete blocks)
  *   SELECT ... FROM graft_<fmt>.<name> [FOR VERSION AS OF n] ...
  *
  * Tables live under `spark.graft.lakehouse.dir` (default
  * target/lakehouse) as `<fmt>/<name>`; the catalog metadata a real FE
  * would hold (partition column, primary key) persists in a
  * `_graft_table.json` sidecar written at CREATE, so INSERT/SELECT
  * need only the name. Writes execute eagerly during the parse
  * pre-pass (the RecursiveSql precedent) and the statement resolves to
  * a one-row `committed_version` table ([[answer]]); reads substitute each
  * reference with a temp view over the format's independent read path
  * (snapshot semantics: the view is re-registered per statement).
  * Paimon without PRIMARY KEY creates an append-only table.
  *
  * FILE-LEVEL PRUNING (r12): the read path extracts provably-safe
  * partition conjuncts from the statement's WHERE clause
  * ([[SqlPrune.partPredicate]] — single WHERE at top depth, no
  * OR/NOT/CASE/set-ops, column unqualified or qualified by the table)
  * and forwards them into each format's manifest-level file planning,
  * so `WHERE part = 'X'` opens one partition's files instead of every
  * footer — the same FE partition prune every reference scan plan gets
  * (nereids/rules/rewrite/PruneFileScanPartition.java). Statements the
  * extractor cannot prove stay unpruned-but-correct. [[lastScans]]
  * records (planned, total) per pruned scan for the plan asserts.
  *
  * Honest scope: statement-level only — no multi-statement
  * transactions; pruning extracts identity partition conjuncts only
  * (no expression pushdown beyond =, IN, numeric ranges). */
object LakehouseSql {

  /** One pruned read's file accounting, for plan asserts: how many
    * files the format's metadata planning admitted vs the snapshot's
    * live total. Only PRUNED reads record (unpruned reads plan once,
    * inside the reader). */
  final case class ScanRecord(fmt: String, name: String,
                              plannedFiles: Int, totalFiles: Int)
  @volatile var lastScans: List[ScanRecord] = Nil

  private val CreateRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*" +
      "(?:PRIMARY\\s+KEY\\s*\\(([^)]*)\\)\\s*)?" +
      "(?:PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)\\s*)?" +
      "AS\\s+(.*)$").r
  // standard DDL: CREATE TABLE t (col TYPE, ...) — no AS SELECT; the
  // column list allows one paren nesting (DECIMAL(10,2))
  private val CreateEmptyRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*" +
      "\\(([^()]*(?:\\([^()]*\\)[^()]*)*)\\)\\s*" +
      "(?:PRIMARY\\s+KEY\\s*\\(([^)]*)\\)\\s*)?" +
      "(?:PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)\\s*)?$").r
  private val TruncateRe =
    ("(?is)^\\s*TRUNCATE\\s+TABLE\\s+" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  // the reference's specifiedPartition: value-keyed here (our
  // partitions are value dirs, not named objects)
  private val TruncatePartRe =
    ("(?is)^\\s*TRUNCATE\\s+TABLE\\s+" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "PARTITION\\s*\\(\\s*([A-Za-z_]\\w*)\\s*=\\s*" +
      "(?:'([^']*)'|([0-9.eE+\\-]+))\\s*\\)\\s*$").r
  // column-subset INSERT: named columns take the source values
  // positionally, unnamed ones null-fill
  private val InsertColsRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*" +
      "\\(\\s*([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)\\s*\\)\\s+(.*)$").r
  private val InsertRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+(.*)$".r
  private val DeleteRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+WHERE\\s+(.*)$".r
  // standard SQL's unfiltered DELETE: every row deletes ROW-LEVEL
  // (CDC-visible), unlike TRUNCATE's metadata commit
  private val DeleteAllRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$".r
  private val UpdateRe =
    ("(?is)^\\s*UPDATE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "SET\\s+(.+?)\\s+WHERE\\s+(.*)$").r
  private val DescribeRe =
    ("(?is)^\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  private val ShowTablesRe =
    "(?is)^\\s*SHOW\\s+TABLES\\s+IN\\s+graft_(iceberg|delta|hudi|paimon)\\s*$".r
  private val ShowStreamsRe = "(?is)^\\s*SHOW\\s+STREAMS\\s*$".r
  private val ShowPartitionsRe =
    ("(?is)^\\s*SHOW\\s+PARTITIONS\\s+" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  private val ShowCreateRe =
    ("(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  private val DropRe =
    ("(?is)^\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  private val DropStreamRe =
    "(?is)^\\s*DROP\\s+STREAM\\s+graft_stream\\.([A-Za-z_]\\w*)\\s*$".r
  private val AlterRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "ADD\\s+COLUMN\\s+([A-Za-z_]\\w*)\\s+([A-Za-z_]\\w*(?:\\s*\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\))?)\\s*$").r
  private val AlterDropRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "DROP\\s+COLUMN\\s+([A-Za-z_]\\w*)\\s*$").r
  private val AlterRenameRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "RENAME\\s+COLUMN\\s+([A-Za-z_]\\w*)\\s+TO\\s+([A-Za-z_]\\w*)\\s*$").r
  private val AlterTypeRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+" +
      "ALTER\\s+COLUMN\\s+([A-Za-z_]\\w*)\\s+TYPE\\s+" +
      "([A-Za-z_]\\w*(?:\\s*\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\))?)\\s*$").r
  // source alternatives: a (subquery) — one paren nesting level — or a
  // view / lakehouse reference (the grammar's relationPrimary)
  private val MergeRe =
    ("(?is)^\\s*MERGE\\s+INTO\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)" +
      "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s+USING\\s+" +
      "(?:\\(((?:[^()]|\\([^()]*\\))*)\\)|" +
      "((?:graft_(?:iceberg|delta|hudi|paimon)\\.)?[A-Za-z_]\\w*))" +
      "(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s+ON\\s+(.+?)" +
      "(\\s+WHEN\\s+(?:NOT\\s+)?MATCHED\\b.+)$").r
  // one WHEN clause of the chain (split on the WHEN keywords above):
  // standard MERGE allows a guard — WHEN MATCHED [AND cond] THEN ...
  private val MatchedClauseRe =
    "(?is)^WHEN\\s+MATCHED\\s*(?:AND\\s+(.+?)\\s+)?THEN\\s+(DELETE|UPDATE\\s+SET\\s+.+?)\\s*$".r
  // the action group: `*` or the grammar's `cols? VALUES row`
  private val NotMatchedClauseRe =
    "(?is)^WHEN\\s+NOT\\s+MATCHED\\s*(?:AND\\s+(.+?)\\s+)?THEN\\s+INSERT\\s+(.+?)\\s*$".r
  private val RefRe = "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)".r
  private val CreateStreamRe =
    ("(?is)^\\s*CREATE\\s+STREAM\\s+graft_stream\\.([A-Za-z_]\\w*)\\s+" +
      "ON\\s+TABLE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$").r
  private val StreamRefRe = "graft_stream\\.([A-Za-z_]\\w*)".r
  private val RefVerRe =
    ("(?i)graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)" +
      "\\s+FOR\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)").r
  private val RefTsRe =
    ("(?i)graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)" +
      "\\s+FOR\\s+TIMESTAMP\\s+AS\\s+OF\\s+(\\d+)").r
  private val InsertOverwriteRe =
    ("(?is)^\\s*INSERT\\s+OVERWRITE\\s+" +
      "graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s+(.*)$").r
  private val OptimizeRe =
    "(?is)^\\s*OPTIMIZE\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)\\s*$".r
  private val VacuumRe =
    ("(?is)^\\s*VACUUM\\s+graft_(iceberg|delta|hudi|paimon)\\.([A-Za-z_]\\w*)" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?\\s*$").r
  private val RestoreRe =
    ("(?is)^\\s*RESTORE\\s+TABLE\\s+graft_delta\\.([A-Za-z_]\\w*)\\s+" +
      "TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*$").r

  // literal-masked: a string literal containing "graft_iceberg.x" is
  // text, not a table reference
  def handles(sql: String): Boolean = {
    val masked = SqlPrune.maskLiterals(sql)
    RefRe.findFirstIn(masked).isDefined ||
      StreamRefRe.findFirstIn(masked).isDefined ||
      ShowTablesRe.findFirstIn(masked).isDefined ||
      ShowStreamsRe.findFirstIn(masked).isDefined
  }

  // ------------------------------------------------------- table streams
  // `CREATE STREAM graft_stream.s ON TABLE graft_<fmt>.t` +
  // `SELECT ... FROM graft_stream.s` — the reference's table-stream
  // surface (catalog/stream/OlapTableStream.java, suites
  // table_stream_p0/): a named cursor over the table's change feed.
  // The cursor starts at the CURRENT commit coordinate (changes since
  // creation); each SELECT consumes (cursor, current] through
  // [[graft.streaming.CdfFeed.changes]] and advances the cursor
  // (atomic swap). An empty window returns an empty frame with the
  // feed schema. Statement-level consumption: the cursor advances when
  // the statement is rewritten, the same eager discipline as the
  // route's writes.

  private def streamFile(spark: SparkSession, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"${warehouse(spark)}/_streams/$name.json")

  private def readStreamState(spark: SparkSession, name: String)
      : (String, String, Long) = {
    // drain the listener bus first: a just-finished consuming
    // statement publishes its cursor from a QueryExecutionListener on
    // the ASYNC bus, and this statement must see it
    org.apache.spark.sql.graftshim.ListenerShim.flush(spark.sparkContext): Unit
    val f = streamFile(spark, name)
    require(java.nio.file.Files.exists(f), s"unknown stream graft_stream.$name")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(f))
    (node.get("fmt").asText, node.get("table").asText,
      node.get("cursor").asLong)
  }

  private def writeStreamState(spark: SparkSession, name: String,
                               fmt: String, table: String, cursor: Long): Unit = {
    val f = streamFile(spark, name)
    java.nio.file.Files.createDirectories(f.getParent)
    IcebergWriter.atomicWriteString(f,
      s"""{"fmt":"$fmt","table":"$table","cursor":$cursor}""")
  }

  /** Monotone cursor publication (listener callbacks may fire late or
    * twice — max-publish makes them idempotent). */
  private def publishCursorMax(spark: SparkSession, name: String,
                               fmt: String, table: String, c: Long): Unit =
    synchronized {
      val f = streamFile(spark, name)
      if (java.nio.file.Files.exists(f)) { // a dropped stream stays dropped
        val cur = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(f)).get("cursor").asLong
        if (cur < c) writeStreamState(spark, name, fmt, table, c)
      }
    }

  private def normPath(p: String): String = p.replaceAll("^file:+", "")

  /** Live cursor listeners keyed by their staged-window path. A
    * consuming statement that is REWRITTEN but never executed leaves
    * its listener registered (nothing fires onSuccess/onFailure for
    * it); without a sweep a long-lived session accumulates one
    * plan-walking listener per abandoned consume. The keep-last-4
    * staged-window sweep unregisters the listener along with its
    * window, and a re-serve of the SAME window supersedes the previous
    * registration (monotone max-publish makes either firing safe). */
  private val cursorListeners = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.util.QueryExecutionListener]()

  /** Test hook: how many cursor listeners are currently registered. */
  def cursorListenerCount: Int = cursorListeners.size()

  private def dropCursorListener(spark: SparkSession, stagedAbs: String): Unit =
    Option(cursorListeners.remove(normPath(stagedAbs)))
      .foreach(spark.listenerManager.unregister)

  /** Delete every staged window dir of `streamName` (and its
    * listeners) — a stream's windows die with it. */
  private def sweepStreamWindows(spark: SparkSession, streamName: String): Unit =
    Option(new java.io.File(s"${warehouse(spark)}/_streams").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"window_${streamName}_"))
      .foreach { f =>
        dropCursorListener(spark, f.getAbsolutePath)
        org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
      }

  /** Publish `newCursor` only when a query that actually SCANS the
    * staged window succeeds — the table-stream commit-on-success rule
    * (the graft-cdf streaming source gets this from engine checkpoints;
    * the SQL route spells it with a QueryExecutionListener). A failed
    * statement unregisters without publishing, so the window re-serves
    * — at-least-once, like a streaming restart. */
  private def publishCursorOnSuccess(spark: SparkSession, name: String,
                                     fmt: String, table: String,
                                     newCursor: Long, stagedPath: String): Unit = {
    def norm(p: String): String = normPath(p)
    val target = norm(new java.io.File(stagedPath).getAbsolutePath)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touches(
          qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if (l.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(rp => norm(rp.toString) == target)
              case _ => false
            }) => ()
        }.isDefined
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (touches(qe)) {
          publishCursorMax(spark, name, fmt, table, newCursor)
          cursorListeners.remove(target, this): Unit
          spark.listenerManager.unregister(this)
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit =
        if (touches(qe)) {
          cursorListeners.remove(target, this): Unit
          spark.listenerManager.unregister(this)
        }
    }
    // a re-staged window supersedes its previous listener
    Option(cursorListeners.put(target, listener))
      .foreach(spark.listenerManager.unregister)
    spark.listenerManager.register(listener)
  }

  /** Replace every `re` match found on the LITERAL-MASKED text (same
    * offsets as the original) with `f(match)`, splicing into the
    * original — references inside quoted strings stay untouched. */
  private def replaceRefsOutsideLiterals(sql: String,
                                         re: scala.util.matching.Regex)
                                        (f: scala.util.matching.Regex.Match => String)
      : String = {
    val masked = SqlPrune.maskLiterals(sql)
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(masked).foreach { m =>
      sb.append(sql.substring(last, m.start)).append(f(m))
      last = m.end
    }
    sb.append(sql.substring(last)).toString
  }

  private def warehouse(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.lakehouse.dir")
      .getOrElse("target/lakehouse")

  private def tableDir(spark: SparkSession, fmt: String, name: String): String =
    new java.io.File(s"${warehouse(spark)}/$fmt/$name").getAbsolutePath

  /** Test-visible table directory resolution (the specs assert against
    * format metadata directly). */
  private[graft] def tableDirOf(spark: SparkSession, fmt: String,
                                name: String): String =
    tableDir(spark, fmt, name)

  /** `partFields` is the MULTI-FIELD spec (col, transform, colType) —
    * iceberg (spec fields array) and delta (per-component
    * partitionValues); when it has 2+ entries, partCol/partTransform
    * are unused (the single-field spelling). */
  private final case class Props(partCol: Option[String], keyCols: Seq[String],
                                 partTransform: String = "identity",
                                 partColType: String = "",
                                 partFields: Seq[(String, String, String)] = Nil)

  /** Parse one PARTITIONED BY entry: a bare column (identity) or an
    * Iceberg transform call — bucket(N, col), truncate(W, col),
    * days/months/years(col). */
  private def parsePartSpec(raw: String): (String, String) = {
    val BucketRe = "(?i)^bucket\\s*\\(\\s*(\\d+)\\s*,\\s*([A-Za-z_]\\w*)\\s*\\)$".r
    val TruncRe = "(?i)^truncate\\s*\\(\\s*(\\d+)\\s*,\\s*([A-Za-z_]\\w*)\\s*\\)$".r
    val DateRe = "(?i)^(years?|months?|days?)\\s*\\(\\s*([A-Za-z_]\\w*)\\s*\\)$".r
    raw.trim match {
      case BucketRe(n, c) => (c, s"bucket[$n]")
      case TruncRe(w, c) => (c, s"truncate[$w]")
      case DateRe(t, c) =>
        val tr = t.toLowerCase.stripSuffix("s")
        (c, tr)
      case c => (c, "identity")
    }
  }

  private def writeProps(dir: String, p: Props): Unit = {
    new java.io.File(dir).mkdirs()
    val pf = p.partFields.map { case (c, tr, ct) =>
      s"""{"col":"$c","tr":"$tr","ct":"$ct"}""" }.mkString(",")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_table.json"),
      s"""{"partCol":${p.partCol.map(c => s""""$c"""").getOrElse("null")},""" +
        s""""partTransform":"${p.partTransform}",""" +
        s""""partColType":"${p.partColType}",""" +
        s""""partFields":[$pf],""" +
        s""""keyCols":[${p.keyCols.map(c => s""""$c"""").mkString(",")}]}""")
  }

  private def readProps(dir: String): Props = {
    val f = java.nio.file.Paths.get(dir, "_graft_table.json")
    require(java.nio.file.Files.exists(f), s"unknown lake table at $dir")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(f))
    val keys = Option(node.get("keyCols")).map(a =>
      (0 until a.size).map(a.get(_).asText)).getOrElse(Seq.empty)
    val pf = Option(node.get("partFields")).map(a =>
      (0 until a.size).map(a.get).map(n =>
        (n.get("col").asText, n.get("tr").asText, n.get("ct").asText)))
      .getOrElse(Seq.empty)
    Props(Option(node.get("partCol")).filterNot(_.isNull).map(_.asText), keys,
      Option(node.get("partTransform")).map(_.asText).getOrElse("identity"),
      Option(node.get("partColType")).map(_.asText).getOrElse(""),
      pf)
  }

  /** Zero-padded next Hudi instant from the timeline. */
  private def nextInstant(dir: String): String = {
    val max = Option(new java.io.File(dir, ".hoodie").list())
      .getOrElse(Array.empty)
      .map(_.split('.').head).filter(_.forall(_.isDigit))
      .foldLeft(0)((m, s) => math.max(m, s.toInt))
    f"${max + 1}%03d"
  }

  /** Snapshot read, optionally at a version — `FOR VERSION AS OF n`
    * takes each format's native coordinate: Iceberg snapshot id, Delta
    * version, Paimon snapshot id, Hudi instant (zero-padded). A
    * `partPred` extracted from the statement's WHERE reaches each
    * format's FILE-LEVEL planning (manifest partition tuples / Delta
    * partitionValues / Hudi partition dirs / Paimon manifest entries),
    * and the (planned, total) counts land in [[lastScans]]. */
  /** Apply the table's partition TRANSFORM to an equality literal —
    * what prunes a bucket/truncate/date spec: the transform of the
    * queried value is the stored partition value. None = not
    * transformable (wrong type / unsupported transform) → no prune. */
  private def transformLiteral(tr: String, colType: String, v: String)
      : Option[String] = {
    val BucketRe = "^bucket\\[(\\d+)\\]$".r
    val TruncRe = "^truncate\\[(\\d+)\\]$".r
    tr match {
      case BucketRe(n) => colType match {
        case "bigint" | "int" => scala.util.Try(v.toLong).toOption
          .map(x => IcebergLite.bucketLong(x, n.toInt).toString)
        case "string" => Some(graft.functions.IcebergBucket.ofString(
          org.apache.spark.unsafe.types.UTF8String.fromString(v), n.toInt).toString)
        case _ => None
      }
      case TruncRe(w) => colType match {
        case "bigint" | "int" => scala.util.Try(v.toLong).toOption
          .map(x => (x - java.lang.Math.floorMod(x, w.toLong)).toString)
        case "string" => Some(v.take(w.toInt))
        case _ => None
      }
      case "year" | "month" | "day" => toLocalDate(colType, v).map(formatTr(tr, _))
      case "identity" => colType match {
        // identity fields inside MULTI-FIELD specs prune by raw value
        // (string/integral only — typed spellings need normalization
        // the single-field identity path gets from SqlPrune)
        case "string" | "int" | "bigint" => Some(v)
        case _ => None
      }
      case _ => None
    }
  }

  /** The literal's civil date, through Spark's own cast. Timestamps
    * parse and render under one fixed zone (wall-clock round trip, the
    * same wall-clock the writer's date_format stamped). */
  private def toLocalDate(colType: String, v: String)
      : Option[java.time.LocalDate] =
    if (colType != "date" && !colType.startsWith("timestamp")) None
    else SqlPrune.castTo(colType, v).collect {
      case d: java.lang.Integer => java.time.LocalDate.ofEpochDay(d.longValue)
      case m: java.lang.Long => java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(m.longValue, 1000000L), 0,
        java.time.ZoneOffset.UTC).toLocalDate
    }

  private def formatTr(tr: String, ld: java.time.LocalDate): String = tr match {
    case "year" => f"${ld.getYear}%04d"
    case "month" => f"${ld.getYear}%04d-${ld.getMonthValue}%02d"
    case _ => ld.toString // day: yyyy-MM-dd
  }

  /** One range bound on the SOURCE column, pushed through a MONOTONE
    * transform (truncate / year / month / day — never bucket): a bound
    * on x is an INCLUSIVE bound on transform(x), because truncation is
    * monotone. Timestamp bounds on date transforms widen by one day on
    * each side (wall-clock vs instant order can disagree inside a DST
    * fall-back hour — a day of slack keeps pruning provably lossless). */
  private def transformBound(tr: String, colType: String, op: String,
                             v: String): Option[String => Boolean] = {
    val lower = op == ">" || op == ">="
    val dateTr = tr == "year" || tr == "month" || tr == "day"
    val tv: Option[String] =
      if (dateTr && colType.startsWith("timestamp"))
        toLocalDate(colType, v).map(ld =>
          formatTr(tr, if (lower) ld.minusDays(1) else ld.plusDays(1)))
      else transformLiteral(tr, colType, v)
    tv.map { t =>
      val numeric = (tr.startsWith("truncate[") || tr == "identity") &&
        (colType == "bigint" || colType == "int")
      (pv: String) =>
        if (numeric) scala.util.Try(BigDecimal(pv)).toOption.forall(n =>
          if (lower) n >= BigDecimal(t) else n <= BigDecimal(t))
        else if (lower) pv >= t else pv <= t
    }
  }

  /** The manifest-level prune for a TRANSFORMED partition spec:
    * equality literals transform directly (bucket hash / truncate
    * floor / civil-date format); range bounds push through the
    * monotone transforms. None = nothing provable → unpruned read. */
  private def transformPruneOf(p: Props, prune: Option[SqlPrune.PruneInfo])
      : Option[(String, String, String => Boolean)] = for {
    pc <- p.partCol
    info <- prune
    eqPred = info.eqVals.flatMap { vals =>
      val targets = vals.flatMap(v =>
        transformLiteral(p.partTransform, p.partColType, v)).toSet
      if (vals.nonEmpty && targets.size == vals.size)
        Some((pv: String) => targets.contains(pv))
      else None
    }
    rangePred = {
      val ps =
        if (p.partTransform.startsWith("bucket")) Nil
        else info.bounds.flatMap { case (op, v) =>
          transformBound(p.partTransform, p.partColType, op, v) }
      if (ps.isEmpty) None else Some((pv: String) => ps.forall(_(pv)))
    }
    if eqPred.isDefined || rangePred.isDefined
  } yield {
    val fs = eqPred.toSeq ++ rangePred.toSeq
    (pc, p.partTransform, (pv: String) => fs.forall(_(pv)))
  }

  /** MULTI-FIELD specs (Iceberg only): the first spec field with a
    * provable conjunct in `stmt` prunes — any single field's component
    * restricts the file set, and planFiles matches components by
    * (column, transform), conservatively keeping files under specs
    * that lack the field. Shared by the read path and the DML verbs. */
  private def multiFieldPrune(stmt: String, fmt: String, name: String, p: Props)
      : Option[(String, String, String => Boolean)] =
    if (p.partFields.size < 2) None
    else p.partFields.view.flatMap { case (c, tr, ct) =>
      SqlPrune.partPruneInfo(stmt, s"graft_$fmt.$name", c, ct)
        .flatMap(info => transformPruneOf(
          Props(Some(c), Seq.empty, tr, ct), Some(info)))
    }.headOption

  /** Delta's stored-partition-value predicate — the map-shaped prune
    * [[DeltaLite.planAddsWithCheckpoint]] takes: a MULTI-FIELD spec
    * prunes on the matched component's [[DeltaWriter.componentKey]]
    * entry; single-field specs (identity or transformed) prune on the
    * partition column's own entry. Missing keys conservatively KEEP the
    * file (pre-spec files never mis-prune). */
  private def deltaMapPred(p: Props,
                           identityPrune: Option[String => Boolean],
                           mfPrune: Option[(String, String, String => Boolean)])
      : Option[Map[String, String] => Boolean] =
    if (p.partFields.size > 1)
      mfPrune.map { case (c, tr, f) =>
        val key = graft.ops.DeltaWriter.componentKey(c, tr)
        (pv: Map[String, String]) => pv.get(key).forall(f)
      }
    else identityPrune.orElse(mfPrune.collect {
        case (c, _, f) if p.partCol.contains(c) => f })
      .map(f => (pv: Map[String, String]) => pv.get(p.partCol.get).forall(f))

  /** The declared LOGICAL schema from each format's own metadata —
    * what an EMPTY table (created empty / truncated) reads as. None on
    * pre-DDL tables whose only schema source is their data files. */
  private def declaredLogicalSchema(spark: SparkSession, fmt: String,
                                    dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    fmt match {
      case "iceberg" => IcebergLite.declaredFields(dir).map(fs =>
        StructType(fs.map { case (l, _, dt) => StructField(l, dt) }))
      case "delta" => DeltaLite.tableSchemaString(spark, dir)
        .filter(_ != "{}")
        .map(ss => DataType.fromJson(ss).asInstanceOf[StructType])
        .map(st => StructType(st.fields.map(f => StructField(f.name, f.dataType))))
      case "hudi" => HudiLite.declaredSchema(dir)
      case "paimon" => PaimonLite.declaredSchema(dir)
    }
  }

  /** Whether the table is in the EMPTY state — created empty (no
    * snapshot / no commits) or truncated (a commit superseding every
    * live file). Metadata-sized. Versioned reads probe at the version.
    * A created-empty Iceberg/Paimon table refuses version travel (no
    * snapshot to travel to) via the normal loud path. */
  private def isEmptyTable(spark: SparkSession, fmt: String, dir: String,
                           p: Props, version: Option[Long]): Boolean = fmt match {
    case "iceberg" =>
      if (version.isEmpty && IcebergLite.currentSnapshotIdOf(dir) == -1L) true
      else if (IcebergLite.currentSnapshotIdOf(dir) == -1L) false // loud travel
      else !IcebergLite.planFiles(dir, version).exists(_.content == 0)
    case "delta" =>
      DeltaLite.planFilesWithCheckpoint(spark, dir, version).isEmpty
    case "hudi" =>
      val names = Option(new java.io.File(dir, ".hoodie").list())
        .getOrElse(Array.empty)
      if (!names.exists(_.endsWith(".commit"))) true
      else HudiLite.planFilesMor(dir, version.map(v => f"$v%03d")).isEmpty
    case "paimon" =>
      if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "snapshot", "LATEST")))
        version.isEmpty // created empty; version travel stays loud
      else PaimonLite.planFiles(dir, version).isEmpty
  }

  /** The table's schema from its own metadata, so a statement plans
    * without a Spark job; the reader is built only for a table that
    * declares none. */
  private def tableSchema(spark: SparkSession, fmt: String, dir: String,
                          p: Props, version: Option[Long] = None)
      : org.apache.spark.sql.types.StructType =
    declaredLogicalSchema(spark, fmt, dir)
      .getOrElse(reader(spark, fmt, dir, p, version).schema)

  private def reader(spark: SparkSession, fmt: String, dir: String,
                     p: Props, version: Option[Long] = None,
                     prune: Option[SqlPrune.PruneInfo] = None,
                     name: String = "",
                     multiPrune: Option[(String, String, String => Boolean)] = None,
                     keepPositions: Boolean = false)
      : DataFrame = {
    val pc = p.partCol
    val pred = prune.map(_.pred)
      .filter(_ => pc.isDefined && p.partTransform == "identity")
    // the live-total audit doubles the metadata walk — fine for the
    // plan-assert gates, skippable on a huge production table. The
    // PLANNED count is always computed when pruning is active: it also
    // powers the zero-match contract below.
    val audit = spark.conf
      .getOption("spark.graft.lakehouse.scanAudit").forall(_ == "true")
    def record(planned: Int, total: => Int): Unit =
      if (audit) lastScans ::= ScanRecord(fmt, name, planned, total)
    // a predicate matching NO partition returns an empty frame with the
    // table's schema — the readers' no-live-files guard is for broken
    // tables, not for valid queries over absent partitions
    def emptyFrame(): DataFrame = {
      val schema = tableSchema(spark, fmt, dir, p, version)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    // CREATED-EMPTY or TRUNCATED tables: zero live files is a VALID
    // state (standard DDL), served as a declared-schema empty frame.
    // The probe is metadata-sized — the same walk planning does.
    if (isEmptyTable(spark, fmt, dir, p, version))
      return declaredLogicalSchema(spark, fmt, dir) match {
        case Some(schema) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        case None => sys.error(s"graft_$fmt table at $dir has no live " +
          "files and no declared schema — broken table")
      }
    fmt match {
      case "iceberg" if p.partFields.size > 1 =>
        // MULTI-FIELD spec: the caller resolves ONE prunable field's
        // conjunct into a (column, transform, pred) triple; planFiles
        // prunes on that field's stored component
        multiPrune match {
          case Some(tp) =>
            val planned = IcebergLite.planFiles(dir, version,
              transformPrune = Some(tp)).count(_.content == 0)
            record(planned,
              IcebergLite.planFiles(dir, version).count(_.content == 0))
            if (planned == 0) emptyFrame()
            else IcebergLite.readSnapshot(spark, dir, version,
              transformPrune = Some(tp), keepPositions = keepPositions)
          case None => IcebergLite.readSnapshot(spark, dir, version,
            keepPositions = keepPositions)
        }
      case "iceberg" if p.partTransform != "identity" =>
        transformPruneOf(p, prune) match {
          case Some(tp) =>
            val planned = IcebergLite.planFiles(dir, version,
              transformPrune = Some(tp)).count(_.content == 0)
            record(planned,
              IcebergLite.planFiles(dir, version).count(_.content == 0))
            if (planned == 0) emptyFrame()
            else IcebergLite.readSnapshot(spark, dir, version,
              transformPrune = Some(tp), keepPositions = keepPositions)
          case None => IcebergLite.readSnapshot(spark, dir, version,
            keepPositions = keepPositions)
        }
      case "iceberg" =>
        pred match {
          case Some(f) =>
            val planned = IcebergLite.planFiles(dir, version,
              partPruneBy = Some((pc.get, f))).count(_.content == 0)
            record(planned,
              IcebergLite.planFiles(dir, version).count(_.content == 0))
            if (planned == 0) emptyFrame()
            else IcebergLite.readSnapshot(spark, dir, version,
              partPruneBy = Some((pc.get, f)), keepPositions = keepPositions)
          case None => IcebergLite.readSnapshot(spark, dir, version,
            keepPositions = keepPositions)
        }
      case "delta" =>
        // transformed specs prune by the transformed bounds, like the
        // iceberg/paimon branches; MULTI-FIELD specs prune on the
        // caller-resolved component (the iceberg branch's discipline,
        // keyed through the stored component map)
        val deltaPred: Option[String => Boolean] =
          if (p.partFields.size > 1) None
          else if (p.partTransform == "identity") pred
          else transformPruneOf(p, prune).map(_._3)
        val mapPred: Option[Map[String, String] => Boolean] =
          if (p.partFields.size > 1) deltaMapPred(p, None, multiPrune)
          else deltaPred.map(f =>
            (pv: Map[String, String]) => pv.get(pc.get).forall(f))
        mapPred match {
          case Some(mf) =>
            val planned =
              DeltaLite.planFilesWithCheckpoint(spark, dir, version, Some(mf)).size
            record(planned,
              DeltaLite.planFilesWithCheckpoint(spark, dir, version).size)
            if (planned == 0) emptyFrame()
            else DeltaLite.readVersion(spark, dir, version, Some(mf),
              keepPositions = keepPositions)
          case None => DeltaLite.readVersion(spark, dir, version,
            keepPositions = keepPositions)
        }
      case "hudi" =>
        val instant = version.map(v => f"$v%03d")
        val hudiPred: Option[String => Boolean] =
          if (p.partTransform == "identity") pred
          else transformPruneOf(p, prune).map(_._3)
        hudiPred match {
          case Some(f) =>
            val planned = HudiLite.planFilesMor(dir, instant, Some(f)).size
            record(planned, HudiLite.planFilesMor(dir, instant).size)
            if (planned == 0) emptyFrame()
            else HudiLite.readSnapshotMor(spark, dir, p.keyCols, instant,
              hudiPred)
          case None => HudiLite.readSnapshotMor(spark, dir, p.keyCols, instant)
        }
      case "paimon" =>
        def rd(pf: Option[String => Boolean]): DataFrame =
          if (p.keyCols.isEmpty) PaimonLite.readAppendOnly(spark, dir, version, pf)
          else PaimonLite.readSnapshot(spark, dir, p.keyCols, version, pf)
        // transformed specs prune by the transformed bounds — the
        // stored partition values are day/month/year strings, the same
        // monotone pushdown the iceberg branch gets; MULTI-FIELD specs
        // prune the caller-resolved component out of the stored
        // tuple-joined value (missing arity conservatively keeps)
        val paimonPred: Option[String => Boolean] =
          if (p.partFields.size > 1)
            multiPrune.flatMap { case (c, tr, f) =>
              val idx = p.partFields.indexWhere(pf =>
                pf._1 == c && pf._2 == tr)
              if (idx < 0) None
              else Some((pv: String) => {
                val cs = pv.split('\u0001')
                idx >= cs.length || f(cs(idx))
              })
            }
          else if (p.partTransform == "identity") pred
          else transformPruneOf(p, prune).map(_._3)
        paimonPred match {
          case Some(f) =>
            val planned = PaimonLite.planFiles(dir, version, Some(f)).size
            record(planned, PaimonLite.planFiles(dir, version).size)
            if (planned == 0) emptyFrame() else rd(paimonPred)
          case None => rd(None)
        }
    }
  }

  private def appendTo(spark: SparkSession, fmt: String, dir: String,
                       p: Props, df: DataFrame, create: Boolean): Long = fmt match {
    case "iceberg" =>
      // PRIMARY KEY tables upsert on INSERT (equality-delete commits),
      // matching the paimon/hudi route's PK semantics; keyless tables
      // append. A declared transform (bucket/truncate/date) stamps the
      // partition spec on every append.
      if (p.partFields.size > 1)
        IcebergWriter.appendMultiSpec(spark, dir, df,
          p.partFields.map { case (c, tr, _) => (c, tr) })
      else if (!create && p.keyCols.nonEmpty)
        // equality deletes are unpartitioned, so the upsert commit
        // composes with ANY spec transform — the data files stamp the
        // table's transform like every append
        IcebergWriter.upsert(spark, dir, df, p.keyCols, p.partCol,
          partTransform = p.partTransform)
      else IcebergWriter.append(spark, dir, df, p.partCol,
        partTransform = p.partTransform)
    case "delta"   =>
      require(p.keyCols.isEmpty,
        "graft_delta tables are append/delete only — PRIMARY KEY upsert " +
          "semantics live on graft_iceberg (equality deletes), " +
          "graft_paimon (LSM) and graft_hudi (MoR)")
      if (p.partFields.size > 1)
        // MULTI-FIELD spec: every add stamps the full component map
        // (appendMultiSpec handles mapped tables itself)
        DeltaWriter.appendMultiSpec(spark, dir, df,
          p.partFields.map(f => (f._1, f._2)))
      // a RENAMED table is column-mapped: appends must stamp PHYSICAL
      // parquet names, which appendMapped does
      else if (DeltaLite.columnMapping(spark, dir).nonEmpty)
        DeltaWriter.appendMapped(spark, dir, df, p.partCol)
      else DeltaWriter.append(spark, dir, df, p.partCol,
        partTransform = p.partTransform)
    case "hudi"    =>
      require(p.keyCols.nonEmpty && p.partCol.nonEmpty,
        "graft_hudi tables need PRIMARY KEY and PARTITIONED BY")
      if (create) {
        HudiLite.createTable(spark, dir, df, p.keyCols, p.partCol.get, "001",
          partTransform = p.partTransform)
        1L
      } else if (!HudiLite.hasLiveGroups(dir)) {
        // FIRST insert into a created-empty or truncated table lays
        // fresh base file groups, keeping timeline + schema + sidecar
        val instant = nextInstant(dir)
        HudiLite.createTable(spark, dir, df, p.keyCols, p.partCol.get,
          instant, wipe = false, partTransform = p.partTransform)
        instant.toLong
      } else {
        val instant = nextInstant(dir)
        HudiLite.upsert(spark, dir, df, p.keyCols, p.partCol.get, instant,
          partTransform = p.partTransform)
        instant.toLong
      }
    case "paimon"  =>
      if (p.keyCols.isEmpty) {
        if (p.partFields.size > 1)
          // MULTI-FIELD spec (append-only): the manifest stores the
          // joined component tuple; any single component prunes
          PaimonWriter.appendOnly(spark, dir, df, p.partFields.head._1,
            partFields = p.partFields.map(f => (f._1, f._2)))
        else {
          require(p.partCol.nonEmpty, "graft_paimon tables need PARTITIONED BY")
          PaimonWriter.appendOnly(spark, dir, df, p.partCol.get,
            partTransform = p.partTransform)
        }
      } else {
        require(p.partCol.exists(p.keyCols.contains),
          "paimon PRIMARY KEY must include the partition column")
        PaimonWriter.append(spark, dir, df, p.partCol.get, p.keyCols,
          partTransform = p.partTransform)
      }
  }

  /** Split on commas at paren depth 0 — SET lists whose expressions
    * contain function calls keep their internal commas. Structure is
    * found on the LITERAL-MASKED text (a comma or paren inside a
    * string literal like 'a,b' or '(' is content, not structure) and
    * the ORIGINAL text is sliced at those offsets — maskLiterals is
    * length-preserving, so positions carry over directly. */
  private def splitTop(s: String): Seq[String] = {
    val masked = SqlPrune.maskLiterals(s)
    val out = Seq.newBuilder[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(last)
    out.result()
  }

  /** `col = expr` assignments (UPDATE/MERGE SET lists). The `=` is
    * located on the masked text too — `SET note = '= sign'` must not
    * split inside the literal. */
  private def parseAssignments(raw: String, cols: Seq[String])
      : Seq[(String, String)] =
    splitTop(raw).map { a =>
      val i = SqlPrune.maskLiterals(a).indexOf('=')
      require(i > 0, s"bad assignment '$a'")
      val c = a.substring(0, i).trim
      require(cols.contains(c), s"SET of unknown column '$c'")
      (c, a.substring(i + 1).trim)
    }

  /** PK upsert commit for the three formats that have one. */
  private def applyUpsert(spark: SparkSession, fmt: String, dir: String,
                          p: Props, rows: DataFrame): Long = fmt match {
    case "iceberg" =>
      IcebergWriter.upsert(spark, dir, rows, p.keyCols, p.partCol,
        partTransform = p.partTransform)
    case "hudi" =>
      val instant = nextInstant(dir)
      HudiLite.upsert(spark, dir, rows, p.keyCols, p.partCol.get, instant,
        partTransform = p.partTransform)
      instant.toLong
    case "paimon" =>
      PaimonWriter.append(spark, dir, rows, p.partCol.get, p.keyCols,
        partTransform = p.partTransform)
    case other => sys.error(s"no PK upsert for $other")
  }

  /** Rewrite (and for writes: execute) one statement. Returns the SQL
    * Spark should actually parse. */
  // the MERGE USING-(subquery) prefix — the subquery body is found by
  // BALANCED-PAREN scan on the literal-masked text, so any nesting
  // depth parses (the one-level regex alternative in MergeRe stays as
  // a fallback shape)
  private val MergeUsingParenRe =
    ("(?is)^(\\s*MERGE\\s+INTO\\s+graft_(?:iceberg|delta|hudi|paimon)\\." +
      "[A-Za-z_]\\w*(?:\\s+(?:AS\\s+)?[A-Za-z_]\\w*)?\\s+USING\\s*)\\(").r

  /** `MERGE ... USING (subquery) alias ...` at ANY paren nesting depth:
    * the subquery materializes behind an internal view (its own graft
    * references rewrite recursively through the injected parser) and
    * the statement re-enters with the view name. */
  private def mergeSubqueryPrepass(spark: SparkSession, sql: String): String = {
    val masked = SqlPrune.maskLiterals(sql)
    MergeUsingParenRe.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val open = m.end - 1
        var depth = 0
        var i = open
        var close = -1
        while (i < masked.length && close < 0) {
          masked.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case _ =>
          }
          i += 1
        }
        require(close > open, "unbalanced parens in MERGE USING (subquery)")
        require("(?is)^\\s*ON\\b".r.findFirstIn(sql.substring(close + 1)).isEmpty,
          "MERGE USING (subquery) needs an alias")
        spark.sql(sql.substring(open + 1, close))
          .createOrReplaceTempView("__graft_mrg_subq")
        sql.substring(0, open) + " __graft_mrg_subq " + sql.substring(close + 1)
    }
  }

  def rewrite(spark: SparkSession, sql: String): String =
    rewriteResolved(spark, mergeSubqueryPrepass(spark, sql))

  /** The one-row answer of a write statement, e.g. its
    * `committed_version`. Spelled as an inline table, which Spark plans
    * as a LocalTableScan and runs without generated code: a one-row
    * SELECT of the value plans as a Project whose generated class
    * inlines the literal, so each new version compiled new classes. */
  private def answer(value: Any, column: String = "committed_version",
                     sqlType: String = "BIGINT"): String =
    s"SELECT * FROM VALUES (CAST($value AS $sqlType)) AS t($column)"

  private def rewriteResolved(spark: SparkSession, sql: String): String = sql match {
    case CreateRe(orReplace, ifNotExists, fmt, name, pkRaw, partRaw, select) =>
      val dir = tableDir(spark, fmt, name)
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_graft_table.json"))
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive")
      if (exists && ifNotExists != null)
        // standard DDL: an existing table is a successful no-op
        return answer(-1)
      require(!exists || orReplace != null,
        s"table graft_$fmt.$name already exists (use CREATE OR REPLACE)")
      if (exists) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      // PARTITIONED BY takes a comma list of entries; 2+ entries = a
      // MULTI-FIELD spec (Iceberg's fields array, e.g.
      // `days(ts), bucket(16, id)`)
      val parsedParts: Seq[(String, String)] =
        Option(partRaw).map(_.trim).filter(_.nonEmpty)
          .map(raw => splitTop(raw).map(_.trim).filter(_.nonEmpty)
            .map(parsePartSpec))
          .getOrElse(Seq.empty)
      parsedParts.foreach { case (_, tr) =>
        require(tr == "identity" || fmt == "iceberg" ||
          Set("day", "month", "year")(tr) ||
          tr.startsWith("bucket[") || tr.startsWith("truncate["),
          s"partition transform $tr is not supported on graft_$fmt " +
            "(single-field day/month/year/bucket/truncate on all four; " +
            "multi-field specs are iceberg)")
      }
      require(parsedParts.size <= 1 || fmt != "hudi",
        "multi-field partition specs live on graft_iceberg (spec fields " +
          "array), graft_delta (per-component partitionValues) and " +
          "append-only graft_paimon (manifest component tuples) — " +
          "graft_hudi file groups route by one partition column")
      val pkCols = Option(pkRaw)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      require(parsedParts.size <= 1 || pkCols.isEmpty,
        "PRIMARY KEY with a multi-field partition spec is out of scope")
      val created = spark.sql(select)
      val parsedPart = parsedParts.headOption.filter(_ => parsedParts.size == 1)
      val props = Props(
        parsedPart.map(_._1),
        pkCols,
        parsedPart.map(_._2).getOrElse("identity"),
        parsedPart.map(pp =>
          created.schema(pp._1).dataType.simpleString).getOrElse(""),
        if (parsedParts.size > 1)
          parsedParts.map { case (c, tr) =>
            (c, tr, created.schema(c).dataType.simpleString) }
        else Nil)
      // Paimon declares its schema up front, as CREATE TABLE does, so
      // later statements plan from metadata (the other formats stamp
      // theirs with the first commit)
      if (fmt == "paimon") PaimonWriter.createEmpty(spark, dir, created.schema)
      val version = appendTo(spark, fmt, dir, props, created, create = true)
      writeProps(dir, props)
      answer(version)

    case CreateEmptyRe(orReplace, ifNotExists, fmt, name, colsRaw, pkRaw, partRaw) =>
      // standard DDL: CREATE TABLE t (cols...) with no AS SELECT — an
      // EMPTY table whose declared schema lives in the format's OWN
      // metadata (Delta v0 metaData commit, Iceberg schemas array with
      // current-snapshot-id = -1, Paimon schema-0, Hudi schema.json);
      // reads serve a declared-schema empty frame until the first INSERT
      import org.apache.spark.sql.types.{StructField, StructType}
      val dir = tableDir(spark, fmt, name)
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_graft_table.json"))
      require(orReplace == null || ifNotExists == null,
        "OR REPLACE and IF NOT EXISTS are mutually exclusive")
      if (exists && ifNotExists != null)
        return answer(-1)
      require(!exists || orReplace != null,
        s"table graft_$fmt.$name already exists (use CREATE OR REPLACE)")
      if (exists) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val schema = StructType(splitTop(colsRaw).map(_.trim).filter(_.nonEmpty)
        .map { c =>
          val i = c.indexWhere(_.isWhitespace)
          require(i > 0, s"bad column definition '$c'")
          StructField(c.substring(0, i),
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(c.substring(i + 1).trim), nullable = true)
        })
      val parsedParts: Seq[(String, String)] =
        Option(partRaw).map(_.trim).filter(_.nonEmpty)
          .map(raw => splitTop(raw).map(_.trim).filter(_.nonEmpty)
            .map(parsePartSpec))
          .getOrElse(Seq.empty)
      parsedParts.foreach { case (c, tr) =>
        require(schema.fieldNames.contains(c), s"unknown partition column $c")
        require(tr == "identity" || fmt == "iceberg" ||
          Set("day", "month", "year")(tr) ||
          tr.startsWith("bucket[") || tr.startsWith("truncate["),
          s"partition transform $tr is not supported on graft_$fmt " +
            "(single-field day/month/year/bucket/truncate on all four; " +
            "multi-field specs are iceberg)")
      }
      require(parsedParts.size <= 1 || fmt != "hudi",
        "multi-field partition specs live on graft_iceberg (spec fields " +
          "array), graft_delta (per-component partitionValues) and " +
          "append-only graft_paimon (manifest component tuples) — " +
          "graft_hudi file groups route by one partition column")
      val pkCols = Option(pkRaw)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      pkCols.foreach(c => require(schema.fieldNames.contains(c),
        s"unknown PRIMARY KEY column $c"))
      require(parsedParts.size <= 1 || pkCols.isEmpty,
        "PRIMARY KEY with a multi-field partition spec is out of scope")
      val parsedPart = parsedParts.headOption.filter(_ => parsedParts.size == 1)
      // the first-INSERT route requirements fail HERE, not at insert time
      fmt match {
        case "delta" => require(pkCols.isEmpty,
          "graft_delta tables are append/delete only — PRIMARY KEY upsert " +
            "semantics live on graft_iceberg/graft_paimon/graft_hudi")
        case "hudi" => require(pkCols.nonEmpty && parsedPart.nonEmpty,
          "graft_hudi tables need PRIMARY KEY and PARTITIONED BY")
        case "paimon" =>
          require(parsedPart.nonEmpty || parsedParts.size > 1,
            "graft_paimon tables need PARTITIONED BY")
          if (pkCols.nonEmpty)
            require(parsedPart.exists(pp => pkCols.contains(pp._1)),
              "paimon PRIMARY KEY must include the partition column")
        case _ =>
      }
      val props = Props(
        parsedPart.map(_._1),
        pkCols,
        parsedPart.map(_._2).getOrElse("identity"),
        parsedPart.map(pp => schema(pp._1).dataType.simpleString).getOrElse(""),
        if (parsedParts.size > 1)
          parsedParts.map { case (c, tr) =>
            (c, tr, schema(c).dataType.simpleString) }
        else Nil)
      fmt match {
        case "iceberg" => IcebergWriter.createEmpty(spark, dir, schema)
        case "delta" =>
          DeltaWriter.createEmpty(spark, dir, schema, props.partCol,
            props.partFields.map(f => (f._1, f._2))): Unit
        case "paimon" => PaimonWriter.createEmpty(spark, dir, schema)
        case "hudi" =>
          new java.io.File(dir, ".hoodie").mkdirs()
          IcebergWriter.atomicWriteString(java.nio.file.Paths.get(
            dir, ".hoodie", "schema.json"), schema.json)
      }
      writeProps(dir, props)
      answer(0)

    case TruncatePartRe(fmt, name, colName, qv, bv) =>
      // TRUNCATE one partition, metadata-only: Iceberg rewrites only
      // the touched manifests (one delete-stamped snapshot), Delta
      // commits remove tombstones for the partition's adds, Paimon
      // commits one OVERWRITE snapshot of DELETE entries, Hudi commits
      // one replacedPartitions instant (the replay drops the
      // partition's file groups; a later insert refills through lazy
      // group creation). A partition with no live files is a no-op.
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      val v = Option(qv).getOrElse(bv)
      require(p.partCol.contains(colName) && p.partTransform == "identity" &&
        p.partFields.size <= 1,
        s"TRUNCATE PARTITION targets the table's identity partition column " +
          s"(here: ${p.partCol.getOrElse("none")}, transform " +
          s"${p.partTransform}) — transformed/multi-field specs delete " +
          "row-level (DELETE FROM ... WHERE)")
      val version: Long = fmt match {
        case "iceberg" => IcebergWriter.truncatePartition(dir, v)
        case "paimon" => PaimonWriter.truncatePartition(dir, v)
        case "delta" =>
          val pred = (pv: Map[String, String]) => pv.get(colName).contains(v)
          if (!DeltaLite.planFilesWithCheckpoint(spark, dir)
              .exists(x => pred(x._2))) -1L
          else DeltaWriter.deleteWhere(spark, dir, pred)
        case _ => HudiLite.truncatePartition(dir, v, nextInstant(dir))
      }
      answer(version)

    case TruncateRe(fmt, name) =>
      // TRUNCATE TABLE: all rows gone in ONE atomic commit (Delta
      // removes-only commit, Iceberg empty REPLACE snapshot, Paimon
      // empty OVERWRITE snapshot, Hudi empty replaces=true instant);
      // older versions travel until reclaim. Already-empty = no-op.
      val dir = tableDir(spark, fmt, name)
      readProps(dir): Unit
      val version = fmt match {
        case "delta" => DeltaWriter.truncate(spark, dir)
        case "iceberg" => IcebergWriter.truncateTable(spark, dir)
        case "paimon" => PaimonWriter.truncate(spark, dir)
        case "hudi" => HudiLite.truncateTable(dir, nextInstant(dir))
      }
      answer(version)

    case InsertOverwriteRe(fmt, name, select) =>
      // atomic full replace: Delta commits removes+adds in ONE commit,
      // Iceberg a REPLACE snapshot — a reader sees old or new, never a
      // mix (unlike a delete-then-append pair)
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      val incoming = spark.sql(select)
      val target = tableSchema(spark, fmt, dir, p)
      require(incoming.columns.toSet == target.fieldNames.toSet,
        s"INSERT OVERWRITE columns ${incoming.columns.mkString(",")} must " +
          s"match the table's ${target.fieldNames.mkString(",")}")
      val aligned = incoming.select(target.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)): _*)
      val version = fmt match {
        case "delta" => DeltaWriter.overwrite(spark, dir, aligned, p.partCol,
          partTransform = p.partTransform)
        case "iceberg" => IcebergWriter.overwrite(spark, dir, aligned, p.partCol)
        case "paimon" =>
          // ONE commitKind=OVERWRITE snapshot: no base manifests — a
          // reader at it sees only the new files; history time-travels
          if (p.keyCols.isEmpty)
            PaimonWriter.appendOnly(spark, dir, aligned, p.partCol.get,
              overwriteAll = true, partTransform = p.partTransform)
          else PaimonWriter.append(spark, dir, aligned, p.partCol.get,
            p.keyCols, overwriteAll = true, partTransform = p.partTransform)
        case "hudi" =>
          // ONE replacecommit instant: the replay supersedes every
          // previous file group (insert_overwrite_table)
          val instant = nextInstant(dir)
          HudiLite.overwriteTable(spark, dir, aligned, p.keyCols,
            p.partCol.get, instant, partTransform = p.partTransform)
          instant.toLong
      }
      answer(version)

    case InsertColsRe(fmt, name, colsRaw, select) =>
      // INSERT INTO t (a, b) SELECT/VALUES ...: standard column-subset
      // insert — source columns bind POSITIONALLY to the named list,
      // unnamed table columns null-fill. Partition and PRIMARY KEY
      // columns must be named (a null routing key has no home).
      import org.apache.spark.sql.functions.{col, lit}
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      val cols = colsRaw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.distinct.size == cols.size, "duplicate INSERT columns")
      val target = tableSchema(spark, fmt, dir, p)
      cols.foreach(c => require(target.fieldNames.contains(c),
        s"unknown INSERT column $c"))
      (p.partCol.toSeq ++ p.partFields.map(_._1) ++ p.keyCols).distinct
        .foreach(c => require(cols.contains(c),
          s"the INSERT column list must include partition/PRIMARY KEY " +
            s"column $c"))
      val incoming0 = spark.sql(select)
      require(incoming0.columns.length == cols.size,
        s"INSERT source arity ${incoming0.columns.length} must match the " +
          s"column list's ${cols.size}")
      val named = incoming0.toDF(cols.toIndexedSeq: _*)
      val aligned = named.select(target.fields.toSeq.map(f =>
        (if (cols.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)).as(f.name)): _*)
      val version = appendTo(spark, fmt, dir, p, aligned, create = false)
      answer(version)

    case InsertRe(fmt, name, select) =>
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      // align the incoming rows to the TABLE schema (by name, cast to
      // the stored types) — mixed int/long parquet across commits
      // would otherwise poison later merged reads
      val incoming0 = spark.sql(select)
      val target = tableSchema(spark, fmt, dir, p)
      // `INSERT INTO t VALUES (...)`: positional — the VALUES columns
      // (col1..colN) take the table's schema order
      val incoming =
        if (select.trim.toUpperCase.startsWith("VALUES")) {
          require(incoming0.columns.length == target.fields.length,
            s"INSERT VALUES arity ${incoming0.columns.length} must match " +
              s"the table's ${target.fields.length} columns")
          incoming0.toDF(target.fieldNames.toIndexedSeq: _*)
        } else incoming0
      require(incoming.columns.toSet == target.fieldNames.toSet,
        s"INSERT columns ${incoming.columns.mkString(",")} must match " +
          s"the table's ${target.fieldNames.mkString(",")}")
      val aligned = incoming.select(target.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)): _*)
      val version = appendTo(spark, fmt, dir, p, aligned, create = false)
      answer(version)
    case DeleteAllRe(fmt, name) =>
      // delete-all routes through the row-level machinery with a TRUE
      // predicate — the change feed ships every row as a delete, the
      // standard-SQL contrast to TRUNCATE's state-motion commit
      rewrite(spark, s"DELETE FROM graft_$fmt.$name WHERE TRUE")

    case DeleteRe(fmt, name, cond) =>
      import org.apache.spark.sql.functions.{expr, lit}
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      lastScans = Nil
      // a provable WHERE partition conjunct prunes the DELETE's target
      // scan at file level — the same SqlPrune extraction the read path
      // uses (sound: rows outside those files cannot match the WHERE)
      val prune = p.partCol.flatMap(pc =>
        SqlPrune.partPruneInfo(sql, s"graft_$fmt.$name", pc, p.partColType))
      val identityPrune: Option[String => Boolean] = prune.map(_.pred)
        .filter(_ => p.partCol.isDefined && p.partTransform == "identity")
      // MULTI-FIELD spec tables: any single field's provable conjunct
      // prunes the DML target planning too; single TRANSFORMED specs
      // prune through the transform of the queried literal
      val mfPrune = multiFieldPrune(sql, fmt, name, p).orElse(
        transformPruneOf(p, prune).filter(_ => p.partTransform != "identity"))
      require(fmt != "paimon" || p.keyCols.nonEmpty,
        "DELETE FROM an append-only paimon table is not supported " +
          "(append tables are immutable facts)")
      // zero-match DELETE is a successful no-op (standard SQL) — the
      // probe rides the same pruned read the statement plans
      if (reader(spark, fmt, dir, p, None, prune, name, mfPrune)
          .filter(org.apache.spark.sql.functions.expr(cond))
          .limit(1).count() == 0)
        return answer(graft.streaming.CdfFeed.coordinate(spark, fmt, dir))
      // each format's native row-delete spelling: Iceberg position
      // deletes, Delta deletion vectors, Paimon -D retraction rows,
      // Hudi delete blocks. The non-iceberg formats store TRANSFORMED
      // partition values, so a transformed spec's prune applies its
      // stored-value predicate to their file planning too — the same
      // triple the read path resolves (iceberg takes it natively)
      val storedPrune: Option[String => Boolean] = identityPrune.orElse(
        mfPrune.collect { case (c, _, f) if p.partCol.contains(c) => f })
      val version = fmt match {
        case "iceberg" =>
          IcebergWriter.deleteRowsWhere(spark, dir, _.filter(expr(cond)),
            partPruneBy = identityPrune.map(f => (p.partCol.get, f)),
            transformPrune = mfPrune)
        case "delta" =>
          DeltaWriter.deleteRowsWhere(spark, dir, _.filter(expr(cond)),
            partFilter = deltaMapPred(p, identityPrune, mfPrune))
        case "paimon" =>
          val victims = PaimonLite
            .readSnapshot(spark, dir, p.keyCols, None, storedPrune)
            .filter(expr(cond))
            .withColumn("_VALUE_KIND", lit(PaimonLite.KindDelete))
          PaimonWriter.append(spark, dir, victims, p.partCol.get, p.keyCols,
            partTransform = p.partTransform)
        case "hudi" =>
          val keys = HudiLite
            .readSnapshotMor(spark, dir, p.keyCols, None, storedPrune)
            .filter(expr(cond))
            .select(p.keyCols.map(org.apache.spark.sql.functions.col): _*)
          val instant = nextInstant(dir)
          HudiLite.deleteKeys(spark, dir, keys, p.keyCols, instant)
          instant.toLong
      }
      answer(version)
    case DescribeRe(fmt, name) =>
      // DESCRIBE: (col_name, data_type, comment) — comments mark the
      // partition column and PRIMARY KEY membership
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      val schema = tableSchema(spark, fmt, dir, p)
      val rows = schema.fields.toSeq.map { f =>
        val notes = Seq(
          if (p.partCol.contains(f.name)) Some("partition") else None,
          if (p.keyCols.contains(f.name)) Some("primary key") else None
        ).flatten.mkString(", ")
        org.apache.spark.sql.Row(f.name, f.dataType.simpleString, notes)
      }
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val view = s"graft_describe_${fmt}_$name"
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(rows: _*)),
        StructType(Seq(StructField("col_name", StringType),
          StructField("data_type", StringType),
          StructField("comment", StringType))))
        .createOrReplaceTempView(view)
      s"SELECT * FROM $view"

    case ShowTablesRe(fmt) =>
      val root = new java.io.File(s"${warehouse(spark)}/$fmt")
      val names = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => new java.io.File(d, "_graft_table.json").exists())
        .map(_.getName).sorted
      val view = s"graft_show_tables_$fmt"
      import spark.implicits._
      names.toSeq.toDF("table_name").createOrReplaceTempView(view)
      s"SELECT * FROM $view ORDER BY table_name"

    case ShowStreamsRe() =>
      val root = new java.io.File(s"${warehouse(spark)}/_streams")
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
        .map { f =>
          val node = m.readTree(java.nio.file.Files.readString(f.toPath))
          (f.getName.stripSuffix(".json"),
            s"graft_${node.get("fmt").asText}.${node.get("table").asText}",
            node.get("cursor").asLong)
        }
      import spark.implicits._
      rows.toSeq.toDF("stream_name", "on_table", "cursor")
        .createOrReplaceTempView("graft_show_streams")
      "SELECT * FROM graft_show_streams ORDER BY stream_name"

    case ShowPartitionsRe(fmt, name) =>
      // SHOW PARTITIONS (reference SHOW PARTITIONS FROM t): the STORED
      // partition values with live-file counts, straight from each
      // format's file planning — metadata-only, zero data bytes read
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      val parts: Seq[String] =
        if (isEmptyTable(spark, fmt, dir, p, None)) Nil
        else fmt match {
          case "iceberg" =>
            IcebergLite.planFiles(dir).filter(_.content == 0)
              .map(_.partValue.getOrElse(""))
          case "delta" =>
            DeltaLite.planFilesWithCheckpoint(spark, dir)
              .map(_._2.values.mkString("/"))
          case "hudi" => HudiLite.planFilesMor(dir).map(_._2)
          case "paimon" => PaimonLite.planFiles(dir)
              .map(_.part.getOrElse("").replace('\u0001', '/'))
        }
      val pairs = parts.groupBy(identity).view
        .map { case (p2, xs) => (p2, xs.size) }.toSeq.sortBy(_._1)
      val view = s"graft_show_parts_${fmt}_$name"
      import spark.implicits._
      pairs.toDF("partition", "num_files").createOrReplaceTempView(view)
      s"SELECT partition, num_files FROM $view ORDER BY partition"

    case ShowCreateRe(fmt, name) =>
      // SHOW CREATE TABLE: the statement that reconstructs the table on
      // this route — declared schema + PRIMARY KEY + PARTITIONED BY
      // (transforms rendered back to their call spelling)
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      def renderTr(tr: String, c: String): String = tr match {
        case "identity" => c
        case "year" => s"years($c)"
        case "month" => s"months($c)"
        case "day" => s"days($c)"
        case b if b.startsWith("bucket[") =>
          s"bucket(${b.stripPrefix("bucket[").stripSuffix("]")}, $c)"
        case t if t.startsWith("truncate[") =>
          s"truncate(${t.stripPrefix("truncate[").stripSuffix("]")}, $c)"
        case other => sys.error(s"unknown transform $other")
      }
      val schema = tableSchema(spark, fmt, dir, p)
      val cols = schema.fields.map(f =>
        s"${f.name} ${f.dataType.sql}").mkString(", ")
      val pkPart =
        if (p.keyCols.nonEmpty) s" PRIMARY KEY (${p.keyCols.mkString(", ")})"
        else ""
      val partPart =
        if (p.partFields.size > 1)
          s" PARTITIONED BY (${p.partFields.map { case (c, tr, _) =>
            renderTr(tr, c) }.mkString(", ")})"
        else p.partCol.map(pc =>
          s" PARTITIONED BY (${renderTr(p.partTransform, pc)})").getOrElse("")
      val stmt = s"CREATE TABLE graft_$fmt.$name ($cols)$pkPart$partPart"
      val view = s"graft_show_create_${fmt}_$name"
      import spark.implicits._
      Seq(stmt).toDF("stmt").createOrReplaceTempView(view)
      s"SELECT stmt FROM $view"

    case DropRe(ifExists, fmt, name) =>
      // DROP TABLE: the whole table dir (data + metadata + sidecar)
      // goes; streams created on it fail loudly at their next read
      val dir = tableDir(spark, fmt, name)
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_graft_table.json"))
      require(exists || ifExists != null,
        s"table graft_$fmt.$name does not exist (use DROP TABLE IF EXISTS)")
      if (exists)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
      answer(exists, "dropped", "BOOLEAN")

    case DropStreamRe(streamName) =>
      val f = streamFile(spark, streamName)
      require(java.nio.file.Files.exists(f),
        s"unknown stream graft_stream.$streamName")
      java.nio.file.Files.delete(f)
      sweepStreamWindows(spark, streamName)
      s"SELECT '$streamName' AS dropped_stream"

    case CreateStreamRe(streamName, fmt, tblName) =>
      val dir = tableDir(spark, fmt, tblName)
      readProps(dir): Unit // table must exist
      require(!java.nio.file.Files.exists(streamFile(spark, streamName)),
        s"stream graft_stream.$streamName already exists")
      // a PREVIOUS stream of this name (dropped out-of-band) may have
      // left staged windows whose coordinates would poison the fresh
      // cursor's keep-last-4 sweep ordering — clear them first
      sweepStreamWindows(spark, streamName)
      // the cursor starts NOW: the stream ships changes made after its
      // creation (the snapshot-stream contract)
      writeStreamState(spark, streamName, fmt, tblName,
        graft.streaming.CdfFeed.coordinate(spark, fmt, dir))
      s"SELECT '$streamName' AS created_stream"

    case AlterRe(fmt, name, colName, sqlType) =>
      // ADD COLUMN in each format's native evolution spelling: Delta
      // metaData commit, Iceberg schemas array, Paimon schema-N file,
      // Hudi declared-schema swap — no data movement anywhere;
      // pre-evolution files read the column as NULL
      val dir = tableDir(spark, fmt, name)
      readProps(dir): Unit // existence check
      fmt match {
        case "iceberg" => IcebergWriter.addColumn(spark, dir, colName, sqlType): Unit
        case "delta" => DeltaWriter.addColumn(spark, dir, colName, sqlType): Unit
        case "paimon" => PaimonWriter.addColumn(spark, dir, colName, sqlType): Unit
        case "hudi" => HudiLite.addColumn(spark, dir, colName, sqlType)
      }
      s"SELECT '$colName' AS added_column"

    case AlterDropRe(fmt, name, colName) =>
      // DROP COLUMN: metadata-only on every format (new Iceberg schema /
      // Delta metaData commit / Paimon schema-N / Hudi evolution stamp);
      // the stored bytes stay, unread. Partition and PRIMARY KEY
      // columns cannot drop — the table's physical layout hangs off them.
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      require(!p.partCol.contains(colName) &&
        !p.partFields.exists(_._1 == colName),
        s"cannot drop partition column $colName")
      require(!p.keyCols.contains(colName),
        s"cannot drop PRIMARY KEY column $colName")
      fmt match {
        case "iceberg" => IcebergWriter.dropColumn(spark, dir, colName): Unit
        case "delta" => DeltaWriter.dropColumn(spark, dir, colName): Unit
        case "paimon" => PaimonWriter.dropColumn(spark, dir, colName): Unit
        case "hudi" => HudiLite.dropColumn(spark, dir, colName)
      }
      s"SELECT '$colName' AS dropped_column"

    case AlterRenameRe(fmt, name, from, to) =>
      // RENAME COLUMN: metadata-only — data files keep each field's
      // stable WRITE name (Delta: the protocol's column mapping;
      // Iceberg/Paimon/Hudi: the name-mapping analog of their field
      // ids); reads alias on the fly, writers rename incoming columns.
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      require(!p.partCol.contains(from) &&
        !p.partFields.exists(_._1 == from),
        s"cannot rename partition column $from — spec components match " +
          "by source column name")
      require(!p.keyCols.contains(from),
        s"cannot rename PRIMARY KEY column $from")
      fmt match {
        case "iceberg" => IcebergWriter.renameColumn(spark, dir, from, to): Unit
        case "delta" => DeltaWriter.renameColumn(spark, dir, from, to): Unit
        case "paimon" => PaimonWriter.renameColumn(spark, dir, from, to): Unit
        case "hudi" => HudiLite.renameColumn(spark, dir, from, to)
      }
      s"SELECT '$to' AS renamed_column"

    case AlterTypeRe(fmt, name, colName, sqlType) =>
      // TYPE WIDENING (metadata-only): the declared schema re-types the
      // field to a sanctioned wider type; pre-widening parquet up-casts
      // natively at scan (Spark 4 widened parquet reads), hudi log
      // blocks coerce at decode. Partition and PRIMARY KEY columns
      // refuse: stored partition strings ("5" vs "5.0") and LSM bucket
      // hashes (Spark's long hash differs from its int hash) must not
      // move under a live table.
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      require(!p.partCol.contains(colName) &&
        !p.partFields.exists(_._1 == colName),
        s"cannot widen partition column $colName — stored partition " +
          "values and transforms would diverge from new writes")
      require(!p.keyCols.contains(colName),
        s"cannot widen PRIMARY KEY column $colName — key hashing and " +
          "index routing must stay stable")
      // tier choice, the reference's schema-change split
      // (SchemaChangeHandler: LIGHT_SCHEMA_CHANGE vs the rewrite tier):
      // sanctioned PROMOTIONS are metadata-only; sanctioned
      // CROSS-FAMILY changes (integral → string) REWRITE every live
      // file — one atomic commit on delta/iceberg, loud refusal where
      // the schema file and the data commit are separate swap points
      val curType = tableSchema(spark, fmt, dir, p)(colName).dataType
      val newType = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(sqlType)
      if (graft.ops.TypeWiden.ok(curType, newType)) {
        fmt match {
          case "iceberg" =>
            IcebergWriter.widenColumn(spark, dir, colName, sqlType): Unit
          case "delta" =>
            DeltaWriter.widenColumn(spark, dir, colName, sqlType): Unit
          case "paimon" =>
            PaimonWriter.widenColumn(spark, dir, colName, sqlType): Unit
          case "hudi" => HudiLite.widenColumn(spark, dir, colName, sqlType)
        }
        s"SELECT '$colName' AS widened_column"
      } else {
        require(graft.ops.TypeWiden.retypeOk(curType, newType),
          s"cannot alter $colName from ${curType.simpleString} to " +
            s"${newType.simpleString} — sanctioned: widening promotions " +
            "(metadata-only) or integral -> string (rewrite)")
        fmt match {
          case "delta" =>
            DeltaWriter.retypeColumn(spark, dir, colName, sqlType,
              p.partCol, partTransform = p.partTransform): Unit
          case "iceberg" =>
            IcebergWriter.retypeColumn(spark, dir, colName, sqlType,
              p.partCol, p.partTransform,
              p.partFields.map(x => (x._1, x._2))): Unit
          case "paimon" =>
            // the pending-schema discipline makes the COMPACT snapshot
            // CAS the single visibility point (PaimonWriter.retypeColumn)
            PaimonWriter.retypeColumn(spark, dir, colName, sqlType,
              p.keyCols, p.partCol.getOrElse(
                sys.error("paimon tables are partitioned")),
              p.partTransform): Unit
          case "hudi" =>
            // the schema rides IN the commit: one replacecommit carries
            // the rewritten data AND the overriding schema stamp
            HudiLite.retypeColumn(spark, dir, colName, sqlType,
              p.keyCols, p.partCol.getOrElse(
                sys.error("hudi tables are partitioned")),
              nextInstant(dir), p.partTransform)
        }
        s"SELECT '$colName' AS retyped_column"
      }

    case OptimizeRe(fmt, name) =>
      // the maintenance REWRITE in each format's spelling: Delta
      // OPTIMIZE (compacted DV-free files), Iceberg rewrite_data_files
      // (REPLACE snapshot), Hudi compaction (fresh base slices for
      // logged groups), Paimon FULL COMPACTION (per-bucket level merge
      // into one max-level file, ONE COMPACT snapshot)
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      fmt match {
        case "delta" => DeltaWriter.optimize(spark, dir, p.partCol,
          partTransform = p.partTransform,
          partFields = p.partFields.map(f => (f._1, f._2))): Unit
        case "iceberg" =>
          IcebergWriter.rewriteDataFiles(spark, dir, p.partCol,
            partFields = p.partFields.map(f => (f._1, f._2))): Unit
        case "hudi" =>
          HudiLite.compact(spark, dir, p.keyCols, nextInstant(dir)): Unit
        case "paimon" =>
          PaimonWriter.compact(spark, dir, p.keyCols, p.partCol.get,
            partTransform = p.partTransform): Unit
      }
      s"SELECT 'graft_$fmt.$name' AS optimized"

    case VacuumRe(fmt, name, retainRaw) =>
      // physical reclaim in each format's spelling: Delta VACUUM,
      // Iceberg/Paimon expire_snapshots (RETAIN N VERSIONS keeps the
      // last N snapshots; default 1), Hudi clean
      val dir = tableDir(spark, fmt, name)
      readProps(dir): Unit
      // RETAIN N VERSIONS is snapshot-count retention — meaningful on
      // the snapshot-expiring formats; Delta vacuum reclaims whatever
      // the CURRENT version no longer references and Hudi clean sweeps
      // unreferenced slices, so a RETAIN there would silently lie
      require(retainRaw == null || fmt == "iceberg" || fmt == "paimon",
        s"RETAIN N VERSIONS applies to snapshot-expiring formats " +
          s"(iceberg/paimon) — graft_$fmt reclaims by reference, not count")
      val keep = Option(retainRaw).map(_.toInt).getOrElse(1)
      val reclaimed: Int = fmt match {
        case "delta" => DeltaWriter.vacuum(spark, dir, graceMillis = 0L).size
        case "iceberg" => IcebergWriter.expireSnapshots(dir, keep).size
        case "paimon" => PaimonWriter.expireSnapshots(dir, keep).size
        case "hudi" => HudiLite.clean(dir).size
      }
      answer(reclaimed, "reclaimed_files")

    case RestoreRe(name, v) =>
      // Delta RESTORE TABLE ... TO VERSION AS OF n: one metadata commit
      // rewinding the live set; history preserved
      val dir = tableDir(spark, "delta", name)
      readProps(dir): Unit
      val version = DeltaWriter.restore(spark, dir, v.toLong)
      answer(version)

    case UpdateRe(fmt, name, setsRaw, cond) =>
      // UPDATE ... SET ... WHERE: matched rows re-land updated, spelled
      // in each format's native row-change idiom, always ONE COMMIT —
      // PK formats as an upsert (equality deletes / MoR log / LSM
      // sequence), positional formats as an atomic delete+add snapshot
      // (position deletes / DVs plus the updated rows' files in the
      // same version). A provable WHERE partition conjunct prunes BOTH
      // the probe read and the writer's target scan to that
      // partition's files. Zero matched rows is a successful no-op
      // (standard SQL): the statement resolves to the current
      // coordinate and the table is untouched.
      import org.apache.spark.sql.functions.{col, expr}
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      lastScans = Nil
      val prune = p.partCol.flatMap(pc =>
        SqlPrune.partPruneInfo(sql, s"graft_$fmt.$name", pc, p.partColType))
      // multi-field and single-transform specs prune the DML planning
      // (the same triple the read path resolves)
      val mfPrune = multiFieldPrune(sql, fmt, name, p).orElse(
        transformPruneOf(p, prune).filter(_ => p.partTransform != "identity"))
      val cur = reader(spark, fmt, dir, p, None, prune, name, mfPrune)
      val setMap = parseAssignments(setsRaw, cur.columns.toSeq).toMap
      require(!p.keyCols.exists(setMap.contains),
        "UPDATE must not assign PRIMARY KEY columns (delete + insert instead)")
      val updated = cur.filter(expr(cond)).select(cur.columns.toSeq.map(c =>
        setMap.get(c).map(e => expr(e).as(c)).getOrElse(col(c))): _*)
      if (updated.limit(1).count() == 0)
        answer(graft.streaming.CdfFeed.coordinate(spark, fmt, dir))
      else {
        val identityPrune: Option[String => Boolean] = prune.map(_.pred)
          .filter(_ => p.partCol.isDefined && p.partTransform == "identity")
        val version = fmt match {
          case "iceberg" if p.keyCols.nonEmpty =>
            applyUpsert(spark, fmt, dir, p, updated)
          case "iceberg" =>
            IcebergWriter.updateRows(spark, dir, _.filter(expr(cond)), updated,
              p.partCol,
              partPruneBy = identityPrune.map(f => (p.partCol.get, f)),
              transformPrune = mfPrune,
              partTransform = p.partTransform,
              partFields = p.partFields.map(f => (f._1, f._2)))
          case "delta" =>
            // transformed and multi-field specs prune the writer's
            // target scan by the STORED partition values, like the
            // read path; replacements re-land under the table's spec
            DeltaWriter.updateRows(spark, dir, _.filter(expr(cond)), updated,
              p.partCol,
              partFilter = deltaMapPred(p, identityPrune, mfPrune),
              partTransform = p.partTransform,
              partFields = p.partFields.map(f => (f._1, f._2)))
          case "hudi" | "paimon" =>
            applyUpsert(spark, fmt, dir, p, updated)
        }
        answer(version)
      }

    case MergeRe(fmt, name, tAliasRaw, subqRaw, srcViewRaw, sAliasRaw, cond,
                 whenChain) =>
      // a SUBQUERY source materializes behind an internal view (its own
      // graft references rewrite recursively through the parser)
      val srcView = Option(srcViewRaw).getOrElse {
        require(sAliasRaw != null, "MERGE USING (subquery) needs an alias")
        spark.sql(subqRaw).createOrReplaceTempView("__graft_mrg_subq")
        "__graft_mrg_subq"
      }
      // MERGE INTO t USING s ON cond
      //   WHEN MATCHED [AND g] THEN UPDATE SET ... | DELETE   (1..2 ×)
      //   [WHEN NOT MATCHED [AND g] THEN INSERT *]
      // — the reference's dedicated merge sink
      // (iceberg_merge_sink_operator.h:44) with standard conditional
      // clauses: per target row the FIRST matched clause whose guard
      // holds wins; unclaimed matches stay untouched. Re-expressed over
      // the existing writers — positional formats commit every claimed
      // delete + every replacement/insert row in ONE atomic version
      // (updateRows); PK formats upsert (+ the LSM's -D rows / MoR
      // delete blocks for delete clauses).
      //
      // ONE-PASS DATAFLOW: the target⋈source join is evaluated ONCE and
      // persisted; clause rows, the cardinality probe, the emptiness
      // flags, the NOT-MATCHED anti-join and the positional writers'
      // matched (file, pos) set all derive from that one frame — a
      // 100 TB target is scanned once per MERGE, not once per probe
      // (the reference's merge sink is one dataflow too). The join
      // frame carries both sides as STRUCTS named by their aliases, so
      // guard/SET expressions re-resolve unchanged (`s.v` is a struct
      // field access); the target side also carries its row identity —
      // (__fp, __pos) for positional formats, feeding the DV /
      // position-delete writers without re-running the matcher.
      import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
      val dir = tableDir(spark, fmt, name)
      val p = readProps(dir)
      lastScans = Nil
      val tAlias = Option(tAliasRaw).getOrElse(name)
      val sAlias = Option(sAliasRaw).getOrElse(
        if (srcView.contains(".")) srcView.substring(srcView.indexOf('.') + 1)
        else srcView)
      // a provable partition conjunct in the ON clause prunes the
      // TARGET's file planning (sound for both halves: matched rows
      // satisfy every ON conjunct, and the NOT-MATCHED anti-join's
      // condition contains the conjunct, so excluded files can never
      // witness it)
      val mergePrune = p.partCol.flatMap(pc => SqlPrune.partPruneInfo(
        s"SELECT * FROM graft_$fmt.$name $tAlias WHERE $cond",
        s"graft_$fmt.$name", pc, p.partColType))
      val mergeIdentityPrune: Option[String => Boolean] = mergePrune
        .map(_.pred)
        .filter(_ => p.partCol.isDefined && p.partTransform == "identity")
      // multi-field and single-transform specs prune through the same
      // ON-clause conjuncts (sound for both halves, as above)
      val mergeMfPrune = multiFieldPrune(
        s"SELECT * FROM graft_$fmt.$name $tAlias WHERE $cond", fmt, name, p)
        .orElse(transformPruneOf(p, mergePrune)
          .filter(_ => p.partTransform != "identity"))
      // positional formats whose write half MAY need (file, pos) keep
      // the identity on the scan — a static decision from the clause
      // chain's shape (a spurious hint costs two unused columns)
      val hasDeleteClauseHint = "(?is)\\bTHEN\\s+DELETE\\b".r
        .findFirstIn(SqlPrune.maskLiterals(whenChain)).isDefined
      val needPos = (fmt == "iceberg" || fmt == "delta") &&
        (p.keyCols.isEmpty || hasDeleteClauseHint)
      val target0 =
        reader(spark, fmt, dir, p, None, mergePrune, name, mergeMfPrune,
          keepPositions = needPos)
      // empty-table reads serve the declared schema (no metadata cols)
      val target1 =
        if (needPos && !target0.columns.contains("__fp"))
          target0.withColumn("__fp", lit(null).cast("string"))
            .withColumn("__pos", lit(null).cast("bigint"))
        else target0
      // keyless NON-positional formats still need a row identity for
      // the cardinality probe; the id is consistent because the probe
      // reads only the persisted join frame
      val target =
        if (!needPos && p.keyCols.isEmpty)
          target1.withColumn("__rid", monotonically_increasing_id())
        else target1
      val idCols: Seq[String] =
        if (needPos) Seq("__fp", "__pos")
        else if (p.keyCols.isEmpty) Seq("__rid") else Nil
      val tgtView = "__graft_mrg_tgt"
      target.createOrReplaceTempView(tgtView)
      val tCols = target.columns.toSeq.filterNot(Set("__fp", "__pos", "__rid"))

      // ---- parse the WHEN chain (split at the clause keywords on the
      // literal-masked text)
      final case class MatchedClause(guard: Option[String], isDelete: Boolean,
                                     sets: Map[String, String])
      val chainMasked = SqlPrune.maskLiterals(whenChain)
      val clauseStarts = "(?is)\\bWHEN\\s+(?:NOT\\s+)?MATCHED\\b".r
        .findAllMatchIn(chainMasked).map(_.start).toList
      require(clauseStarts.nonEmpty && clauseStarts.head == chainMasked
        .indexWhere(!_.isWhitespace), s"unparseable MERGE clause chain")
      val clauseTexts = (clauseStarts :+ whenChain.length).sliding(2).map {
        case Seq(a, b) => whenChain.substring(a, b).trim
        case _ => ""
      }.toList
      // NOT MATCHED actions, the reference grammar's shapes
      // (DorisParser.g4 mergeNotMatchedClause: `INSERT cols? VALUES
      // row`; `INSERT *` kept as the common engine extension):
      // cols/values None-None = INSERT * (source columns by name)
      final case class NotMatchedClause(guard: Option[String],
                                        cols: Option[Seq[String]],
                                        values: Option[Seq[String]])
      val InsertValuesRe =
        "(?is)^(?:\\(([^)]*)\\)\\s*)?VALUES\\s*\\((.+)\\)$".r
      var matchedClauses = List.empty[MatchedClause]
      var notMatchedClauses = List.empty[NotMatchedClause]
      // clause kinds may INTERLEAVE in any order (the grammar's
      // `(matched | notMatched)+`); first-match-wins applies per kind
      clauseTexts.foreach {
        case MatchedClauseRe(g, action) =>
          val del = action.trim.equalsIgnoreCase("DELETE")
          val sets =
            if (del) Map.empty[String, String]
            else parseAssignments(
              action.trim.replaceFirst("(?is)^UPDATE\\s+SET\\s+", ""), tCols).toMap
          matchedClauses :+= MatchedClause(Option(g).map(_.trim), del, sets)
        case NotMatchedClauseRe(g, action) =>
          val nm = action.trim match {
            case "*" => NotMatchedClause(Option(g).map(_.trim), None, None)
            case InsertValuesRe(colsRaw, valsRaw) =>
              val cols = Option(colsRaw)
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              val vals = splitTop(valsRaw).map(_.trim).filter(_.nonEmpty)
              cols.foreach { cs =>
                cs.foreach(c => require(tCols.contains(c),
                  s"INSERT names unknown column $c"))
                require(cs.size == vals.size,
                  s"INSERT (${cs.size} columns) VALUES (${vals.size} values)")
              }
              if (cols.isEmpty) require(vals.size == tCols.size,
                s"INSERT VALUES (${vals.size} values) against " +
                  s"${tCols.size} target columns")
              NotMatchedClause(Option(g).map(_.trim), cols, Some(vals))
            case other => sys.error(s"unparseable INSERT action: $other")
          }
          notMatchedClauses :+= nm
        case other => sys.error(s"unparseable MERGE clause: $other")
      }
      matchedClauses.dropRight(1).foreach(c => require(c.guard.isDefined,
        "a WHEN MATCHED clause without AND guard must be the last one"))
      notMatchedClauses.dropRight(1).foreach(c => require(c.guard.isDefined,
        "a WHEN NOT MATCHED clause without AND guard must be the last one"))
      require(!matchedClauses.exists(c =>
        p.keyCols.exists(c.sets.contains)),
        "MERGE must not assign PRIMARY KEY columns")

      // clause i claims the matched rows its guard accepts that no
      // EARLIER clause claimed (standard first-match-wins)
      def guardOf(i: Int): String = {
        val own = matchedClauses(i).guard.map(g => s"($g)").getOrElse("TRUE")
        val prior = matchedClauses.take(i).flatMap(_.guard)
          .map(g => s"NOT coalesce(($g), FALSE)")
        (own +: prior).mkString(" AND ")
      }
      val claimedPred = matchedClauses.zipWithIndex.map { case (c, _) =>
        c.guard.map(g => s"($g)").getOrElse("TRUE") }.mkString(" OR ")

      // ---- THE one join. Both sides ride as STRUCTS named by their
      // aliases (a guard/SET expression like `s.v` re-resolves as
      // struct field access, unchanged text), plus the target row
      // identity and — when a NOT MATCHED clause exists — a source row
      // id for the anti-join. PERSISTED: every probe and the write half
      // below read this frame; the table itself is scanned exactly once.
      val needSrcIds = notMatchedClauses.nonEmpty
      // a LAKEHOUSE source (`USING graft_<fmt>.s`) reads through the
      // same reader — and a provable ON conjunct on ITS partition
      // column prunes the SOURCE's file planning too, but ONLY for a
      // matched-only MERGE: every source row the statement can use
      // then satisfies the full ON condition ⊇ the conjunct. With a
      // NOT MATCHED clause the anti-join needs the UNMATCHED source
      // rows as well (a pruned-away row must still INSERT), so the
      // source plans unpruned.
      val srcBase: DataFrame = srcView match {
        case RefRe(sfmt, sname) =>
          val sdir = tableDir(spark, sfmt, sname)
          val sp = readProps(sdir)
          val srcStmt = s"SELECT * FROM graft_$sfmt.$sname $sAlias WHERE $cond"
          val srcPrune = if (needSrcIds) None else sp.partCol.flatMap(pc =>
            SqlPrune.partPruneInfo(srcStmt, s"graft_$sfmt.$sname", pc,
              sp.partColType))
          val srcMf = if (needSrcIds) None
            else multiFieldPrune(srcStmt, sfmt, sname, sp)
              .orElse(transformPruneOf(sp, srcPrune)
                .filter(_ => sp.partTransform != "identity"))
          reader(spark, sfmt, sdir, sp, None, srcPrune, sname, srcMf)
        case _ => spark.table(srcView)
      }
      val srcCols = srcBase.columns.toSeq
      val srcViewI = "__graft_mrg_src"
      // the source materializes too (it is scanned by the join AND the
      // anti-join, and its row ids must be stable) — in a MERGE the
      // source is the small side; the 100 TB side is the target
      val srcMat =
        (if (needSrcIds)
          srcBase.withColumn("__sid", monotonically_increasing_id())
        else srcBase)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      srcMat.createOrReplaceTempView(srcViewI)
      val matView = "__graft_mrg_mat"
      val mat = spark.sql(
        s"SELECT struct(${tCols.map(c => s"$tAlias.$c").mkString(", ")}) AS __t, " +
          s"struct(${srcCols.map(c => s"$sAlias.$c").mkString(", ")}) AS __s" +
          (idCols.map(c => s", $tAlias.$c AS $c") ++
            (if (needSrcIds) Seq(s", $sAlias.__sid AS __sid") else Nil)).mkString +
          s" FROM $tgtView AS $tAlias JOIN $srcViewI AS $sAlias ON $cond")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // qualify-or-flatten: besides the two structs, each side's fields
      // whose NAME belongs to exactly one side also ride as bare
      // top-level columns — an unqualified guard/SET reference (`v > 5`,
      // `SET v = v + 1`) resolves exactly as it did in the plain
      // `t JOIN s` spelling (Spark does not resolve bare names into
      // struct fields). Names on BOTH sides stay qualified-only: a bare
      // reference to them was ambiguous in the join spelling too.
      val reservedFlat =
        (idCols ++ (if (needSrcIds) Seq("__sid") else Nil) ++
          Seq(tAlias, sAlias)).map(_.toLowerCase).toSet
      def flat(side: String, own: Seq[String], other: Seq[String]) =
        own.filter(c => !other.exists(_.equalsIgnoreCase(c)) &&
            !reservedFlat(c.toLowerCase))
          .map(c => col(side).getField(c).as(c))
      mat.select(Seq(col("__t").as(tAlias), col("__s").as(sAlias)) ++
        flat("__t", tCols, srcCols) ++ flat("__s", srcCols, tCols) ++
        (idCols ++ (if (needSrcIds) Seq("__sid") else Nil)).map(col): _*)
        .createOrReplaceTempView(matView)
      try {

      def clauseRows(i: Int): DataFrame = {
        val sets = matchedClauses(i).sets
        spark.sql(
          s"SELECT ${tCols.map(c => sets.get(c).map(e => s"($e) AS $c")
            .getOrElse(s"$tAlias.$c AS $c")).mkString(", ")} " +
            s"FROM $matView WHERE ${guardOf(i)}")
      }
      val updatedDf: Option[DataFrame] = matchedClauses.zipWithIndex
        .filterNot(_._1.isDelete).map { case (_, i) => clauseRows(i) }
        .reduceOption(_ unionByName _)
      val deletedDf: Option[DataFrame] = matchedClauses.zipWithIndex
        .filter(_._1.isDelete).map { case (_, i) => clauseRows(i) }
        .reduceOption(_ unionByName _)
      val insertDf: Option[DataFrame] =
        if (notMatchedClauses.isEmpty) None
        else {
          // NOT MATCHED = the source rows whose id never joined — an
          // anti-join against the (small) matched-id set, not a second
          // pass over the target; clause i claims the unmatched rows
          // its guard accepts that no earlier NOT MATCHED clause
          // claimed (first-match-wins, like the matched side)
          mat.select(col("__sid")).distinct()
            .createOrReplaceTempView("__graft_mrg_sid")
          def insGuardOf(i: Int): Option[String] = {
            val own = notMatchedClauses(i).guard.map(g => s"($g)")
            val prior = notMatchedClauses.take(i).flatMap(_.guard)
              .map(g => s"NOT coalesce(($g), FALSE)")
            val all = own.toSeq ++ prior
            if (all.isEmpty) None else Some(all.mkString(" AND "))
          }
          def typedAs(c: String): String =
            target.schema(c).dataType.sql
          def insRows(i: Int): DataFrame = {
            val nm = notMatchedClauses(i)
            val proj = nm.values match {
              case None => tCols.map(c => s"$sAlias.$c AS $c")
              case Some(vals) =>
                val colsList = nm.cols.getOrElse(tCols)
                tCols.map { c =>
                  colsList.indexOf(c) match {
                    // unnamed columns null-fill, like column-subset INSERT
                    case -1 => s"CAST(NULL AS ${typedAs(c)}) AS $c"
                    case ix => s"CAST((${vals(ix)}) AS ${typedAs(c)}) AS $c"
                  }
                }
            }
            spark.sql(s"SELECT ${proj.mkString(", ")} " +
              s"FROM $srcViewI AS $sAlias LEFT ANTI JOIN __graft_mrg_sid " +
              s"ON $sAlias.__sid = __graft_mrg_sid.__sid" +
              insGuardOf(i).map(g => s" WHERE $g").getOrElse(""))
          }
          notMatchedClauses.indices.map(insRows)
            .reduceOption(_ unionByName _)
        }

      if (matchedClauses.nonEmpty) {
        // the standard MERGE cardinality rule: one source row per
        // target key — or, keyless, per target ROW identity (a row
        // matched twice would be deleted once and re-appended once per
        // source row: silent duplication where standard MERGE errors).
        // Delete-only statements probe too: the standard (and Delta,
        // SQL Server) raise the violation regardless of clause kind —
        // a double-matched DELETE must error loudly, not delete once.
        val idExprs =
          if (p.keyCols.nonEmpty) p.keyCols.map(k => s"$tAlias.$k")
          else idCols
        val dup = spark.sql(s"SELECT 1 AS one FROM $matView " +
          s"GROUP BY ${idExprs.mkString(", ")} HAVING count(*) > 1 LIMIT 1")
          .count()
        require(dup == 0L,
          if (p.keyCols.nonEmpty)
            "MERGE cardinality violation: a target key matched more than one source row"
          else
            "MERGE cardinality violation: a target row matched more than one source row")
      }

      // emptiness flags: ONE aggregate over the persisted join frame
      // decides which clauses claimed anything (it also materializes
      // the frame), plus a limit(1) probe on the insert anti-join
      val (hasUpdated, hasDeleted) =
        if (matchedClauses.isEmpty) (false, false)
        else {
          val flags = spark.sql("SELECT " +
            matchedClauses.indices.map(i =>
              s"coalesce(max(CASE WHEN ${guardOf(i)} THEN 1 ELSE 0 END), 0) AS c_$i")
              .mkString(", ") + s" FROM $matView").head()
          val claimed = matchedClauses.indices.map(i => flags.getInt(i) == 1)
          (matchedClauses.zipWithIndex.exists {
            case (c, i) => !c.isDelete && claimed(i) },
            matchedClauses.zipWithIndex.exists {
              case (c, i) => c.isDelete && claimed(i) })
        }
      val hasInserts = insertDf.exists(_.limit(1).count() == 1)
      if (!hasUpdated && !hasDeleted && !hasInserts)
        // zero-match MERGE is a successful no-op (standard SQL)
        return answer(graft.streaming.CdfFeed.coordinate(spark, fmt, dir))
      // the positional writers' matched set: the claimed rows'
      // (file, pos) straight from the persisted join frame — the
      // writer's lazily-built scan argument is never executed
      def matcher(scan: DataFrame): DataFrame = {
        val (fpName, posName) =
          if (fmt == "iceberg") ("file_path", "pos") else ("__fp", "__pos")
        locally(scan)
        spark.sql(s"SELECT __fp AS $fpName, __pos AS $posName " +
          s"FROM $matView WHERE $claimedPred")
      }
      def appendRows(rows: DataFrame): Long = fmt match {
        case "iceberg" if p.partFields.size > 1 =>
          IcebergWriter.appendMultiSpec(spark, dir, rows,
            p.partFields.map { case (c, tr, _) => (c, tr) })
        case "iceberg" =>
          IcebergWriter.append(spark, dir, rows, p.partCol,
            partTransform = p.partTransform)
        case "delta" if p.partFields.size > 1 =>
          DeltaWriter.appendMultiSpec(spark, dir, rows,
            p.partFields.map(f => (f._1, f._2)))
        case "delta" => DeltaWriter.append(spark, dir, rows, p.partCol,
          partTransform = p.partTransform)
        case _ => applyUpsert(spark, fmt, dir, p, rows)
      }
      def unionAll(dfs: Seq[DataFrame]): Option[DataFrame] =
        dfs.reduceOption(_ unionByName _)
      val version: Long = fmt match {
        case "iceberg" | "delta" if p.keyCols.isEmpty || hasDeleted =>
          // positional one-commit path: every claimed row position-
          // deletes (DVs / content=1 files) and the replacement +
          // inserted rows land in the SAME version — all-or-nothing
          // (the INSERT OVERWRITE shape)
          val newRows = unionAll(
            (if (hasUpdated) updatedDf.toSeq else Nil) ++
              (if (hasInserts) insertDf.toSeq else Nil))
          val icePrune = mergeIdentityPrune.map(f => (p.partCol.get, f))
          // delta stores TRANSFORMED partition values (multi-field
          // specs the full component map): a provable ON conjunct
          // prunes its writer scan too
          val deltaPrune = deltaMapPred(p, mergeIdentityPrune, mergeMfPrune)
          if (!hasUpdated && !hasDeleted) appendRows(newRows.get)
          else newRows match {
            case Some(rows) if fmt == "iceberg" =>
              IcebergWriter.updateRows(spark, dir, matcher, rows, p.partCol,
                partPruneBy = icePrune, transformPrune = mergeMfPrune,
                partTransform = p.partTransform,
                partFields = p.partFields.map(f => (f._1, f._2)))
            case Some(rows) =>
              DeltaWriter.updateRows(spark, dir, matcher, rows, p.partCol,
                partFilter = deltaPrune, partTransform = p.partTransform,
                partFields = p.partFields.map(f => (f._1, f._2)))
            case None if fmt == "iceberg" =>
              IcebergWriter.deleteRowsWhere(spark, dir, matcher,
                partPruneBy = icePrune, transformPrune = mergeMfPrune)
            case None =>
              DeltaWriter.deleteRowsWhere(spark, dir, matcher,
                partFilter = deltaPrune)
          }
        case "iceberg" =>
          // PK iceberg, updates/inserts only: ONE upsert commit
          // (equality deletes + data files)
          applyUpsert(spark, fmt, dir, p, unionAll(
            (if (hasUpdated) updatedDf.toSeq else Nil) ++
              (if (hasInserts) insertDf.toSeq else Nil)).get)
        case "paimon" =>
          // -D retractions, updated +I rows and inserted +I rows are
          // ROWS of one LSM commit — naturally atomic
          val rows = unionAll(
            (if (hasDeleted) deletedDf.map(_.withColumn("_VALUE_KIND",
              lit(PaimonLite.KindDelete))).toSeq else Nil) ++
              (if (hasUpdated) updatedDf.map(_.withColumn("_VALUE_KIND",
                lit(PaimonLite.KindInsert))).toSeq else Nil) ++
              (if (hasInserts) insertDf.map(_.withColumn("_VALUE_KIND",
                lit(PaimonLite.KindInsert))).toSeq else Nil)).get
          PaimonWriter.append(spark, dir, rows, p.partCol.get, p.keyCols,
            partTransform = p.partTransform)
        case "hudi" =>
          // MoR spells deletes and upserts as different BLOCK KINDS but
          // they share ONE deltacommit instant: mergeCommit writes each
          // touched file group one log file carrying its delete block
          // before its data block — all-or-nothing like the other three
          val delKeys =
            if (hasDeleted)
              Some(deletedDf.get.select(p.keyCols.map(col): _*).distinct())
            else None
          val upsRows = unionAll(
            (if (hasUpdated) updatedDf.toSeq else Nil) ++
              (if (hasInserts) insertDf.toSeq else Nil))
          (delKeys, upsRows) match {
            case (Some(dk), Some(ur)) =>
              HudiLite.mergeCommit(spark, dir, ur, dk, p.keyCols,
                p.partCol.get, nextInstant(dir),
                partTransform = p.partTransform).toLong
            case (Some(dk), None) =>
              val instant = nextInstant(dir)
              HudiLite.deleteKeys(spark, dir, dk, p.keyCols, instant)
              instant.toLong
            case (None, Some(ur)) => applyUpsert(spark, fmt, dir, p, ur)
            case (None, None) =>
              sys.error("unreachable: zero-match MERGE is handled above")
          }
      }
      answer(version)
      } finally {
        mat.unpersist(): Unit
        srcMat.unpersist(): Unit
      }

    case _ =>
      // read path: substitute each reference with a snapshot temp view
      // — versioned references (FOR VERSION AS OF n) first, so the
      // plain pattern cannot eat their table token. Partition conjuncts
      // provably tied to the scanned table prune its FILE planning
      // (extracted against the ORIGINAL statement; references inside
      // string literals are never rewritten).
      lastScans = Nil
      def pruneInfo(fmt: String, name: String, p: Props)
          : Option[SqlPrune.PruneInfo] =
        p.partCol.flatMap(pc =>
          SqlPrune.partPruneInfo(sql, s"graft_$fmt.$name", pc, p.partColType))
      // MULTI-FIELD specs: the first field with a provable conjunct
      // prunes (any single field's component restricts the file set)
      def multiPruneOf(fmt: String, name: String, p: Props)
          : Option[(String, String, String => Boolean)] =
        multiFieldPrune(sql, fmt, name, p)
      // stream references first: each consumes (cursor, current] of its
      // table's change feed and advances the cursor — the second read
      // of an unchanged table is EMPTY (the table-stream contract)
      // COMMIT-ON-SUCCESS consumption: the window MATERIALIZES to a
      // staged parquet during the pre-pass (a failing feed computation
      // keeps the cursor) and the cursor publishes only after the
      // consuming statement's execution SUCCEEDS — a statement that
      // fails mid-consume re-serves the same window next time, exactly
      // the at-least-once discipline the graft-cdf source gets from
      // engine checkpoints.
      val streamed = replaceRefsOutsideLiterals(sql, StreamRefRe) { m =>
        val streamName = m.group(1)
        val (fmt, tblName, cursor) = readStreamState(spark, streamName)
        val dir = tableDir(spark, fmt, tblName)
        val p = readProps(dir)
        val current = graft.streaming.CdfFeed.coordinate(spark, fmt, dir)
        val view = s"graft_stream_v_$streamName"
        val window =
          if (current <= cursor) {
            // empty window, feed-shaped; nothing to publish
            val dataSchema = tableSchema(spark, fmt, dir, p)
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(dataSchema.fields :+
                org.apache.spark.sql.types.StructField("_CHANGE_TYPE",
                  org.apache.spark.sql.types.StringType, nullable = false)))
          } else {
            // each window stages under its OWN (from, to)-named dir: a
            // still-unmaterialized plan over an earlier window keeps
            // its files (overwriting one shared dir would pull them
            // out from under it). Old windows sweep below, keep-last-4.
            val staged = new java.io.File(
              s"${warehouse(spark)}/_streams/window_${streamName}_${cursor}_$current")
              .getAbsolutePath
            graft.streaming.CdfFeed.changes(spark, fmt, dir, Some(cursor),
                current, p.keyCols)
              .write.mode("overwrite").parquet(staged)
            publishCursorOnSuccess(spark, streamName, fmt, tblName,
              current, staged)
            val siblings = Option(new java.io.File(s"${warehouse(spark)}/_streams")
              .listFiles()).getOrElse(Array.empty)
              .filter(_.getName.startsWith(s"window_${streamName}_"))
              .sortBy(f => f.getName.split("_").last.toLong)
            siblings.dropRight(4).foreach { f =>
              // a swept window's listener can never fire usefully again
              // (the statement that staged it was abandoned) — drop it
              // with the files so abandoned consumes don't accumulate
              // plan-walking listeners
              dropCursorListener(spark, f.getAbsolutePath)
              org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
            }
            spark.read.parquet(staged)
          }
        window.createOrReplaceTempView(view)
        view
      }
      // timestamp travel before version travel (both before plain refs,
      // so neither eats the other's table token)
      val timestamped = replaceRefsOutsideLiterals(streamed, RefTsRe) { m =>
        val (fmt, name, ts) = (m.group(1), m.group(2), m.group(3).toLong)
        val dir = tableDir(spark, fmt, name)
        val p = readProps(dir)
        val view = s"graft_lake_${fmt}_${name}_ts$ts"
        val df = fmt match {
          case "iceberg" => IcebergLite.readSnapshotAsOf(spark, dir, ts)
          case "delta" => DeltaLite.readTimestampAsOf(spark, dir, ts)
          case "paimon" =>
            val id = PaimonLite.snapshotIdAsOf(dir, ts)
            if (p.keyCols.isEmpty) PaimonLite.readAppendOnly(spark, dir, Some(id))
            else PaimonLite.readSnapshot(spark, dir, p.keyCols, Some(id))
          case "hudi" =>
            // commit stamps (commitTimeMs, written at commit) map the
            // timestamp to the latest instant at or before it
            val inst = HudiLite.instantAsOf(dir, ts)
            HudiLite.readSnapshotMor(spark, dir, p.keyCols, Some(inst))
        }
        df.createOrReplaceTempView(view)
        view
      }
      val versioned = replaceRefsOutsideLiterals(timestamped, RefVerRe) { m =>
        val (fmt, name, v) = (m.group(1), m.group(2), m.group(3).toLong)
        val dir = tableDir(spark, fmt, name)
        val p = readProps(dir)
        val view = s"graft_lake_${fmt}_${name}_v$v"
        reader(spark, fmt, dir, p, Some(v), pruneInfo(fmt, name, p), name,
          multiPruneOf(fmt, name, p))
          .createOrReplaceTempView(view)
        view
      }
      replaceRefsOutsideLiterals(versioned, RefRe) { m =>
        val (fmt, name) = (m.group(1), m.group(2))
        val dir = tableDir(spark, fmt, name)
        val p = readProps(dir)
        val view = s"graft_lake_${fmt}_$name"
        reader(spark, fmt, dir, p, None, pruneInfo(fmt, name, p), name,
          multiPruneOf(fmt, name, p))
          .createOrReplaceTempView(view)
        view
      }
  }
}
