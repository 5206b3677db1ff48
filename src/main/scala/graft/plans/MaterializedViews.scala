package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Materialized views with transparent rewrite (reference: Doris sync
  * rollup + async MTMV; rewrite rules under
  * fe/fe-core/.../nereids/rules/exploration/mv/
  * MaterializedViewAggregateRule.java etc., refresh
  * mtmv/MTMVPartitionUtil.java — re-expressed as one conservative
  * Catalyst optimizer rule, SURVEY.md §4.4.3).
  *
  * An MV is a parquet materialization of
  *   SELECT groupCols, sum/min/max(aggCols), count(*) FROM base GROUP BY groupCols
  * The rewrite matches Aggregate [over optional Filter] over the base
  * table's file scan and redirects to the MV scan when:
  *   - query group keys are a subset of MV group keys,
  *   - every aggregate is derivable from MV columns
  *     (SUM->SUM partials, COUNT->SUM of counts, MIN/MAX->MIN/MAX,
  *      AVG -> SUM(sums)/SUM(counts)),
  *   - any filter references only MV group keys (kept above the MV scan).
  * Output attribute ids are preserved via aliases, so parents are
  * untouched — the standard contract of a plan-substitution rule.
  */
object MaterializedViews {

  case class MvDef(name: String, basePath: String, groupCols: Seq[String],
                   sumCols: Seq[String], minCols: Seq[String], maxCols: Seq[String],
                   mvPath: String, filterSql: Option[String] = None,
                   filterCanonical: Option[String] = None,
                   filterRefs: Set[String] = Set.empty,
                   rows: Long = -1L)

  /** base-path -> registered MVs (global so injected rules see it). */
  private val registry = new TrieMap[String, Vector[MvDef]]()

  def sumAlias(c: String) = s"__sum_$c"
  def minAlias(c: String) = s"__min_$c"
  def maxAlias(c: String) = s"__max_$c"
  /** per-column non-null count — the correct AVG denominator (AVG
    * ignores NULLs; count(1) does not) and the COUNT(col) partial. */
  def cntnAlias(c: String) = s"__cntn_$c"
  val cntAlias = "__cnt"

  /** Materialize + register an MV over a base parquet table. */
  def create(spark: SparkSession, name: String, baseDir: String, table: String,
             groupCols: Seq[String], sumCols: Seq[String] = Nil,
             minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
             mvRoot: String = "target/mv", filterSql: Option[String] = None): MvDef = {
    val basePath = normalize(s"$baseDir/$table.parquet")
    val mvPath = s"$mvRoot/$name"
    val raw = spark.read.parquet(basePath)
    val base = filterSql.fold(raw)(raw.filter)
    // canonical text of the analyzed filter — the rewrite consumes a
    // query conjunct only when its .sql matches this exactly
    // (conservative filter matching per SURVEY.md §7.4)
    val canonical = filterSql.flatMap { _ =>
      base.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
          (c.sql, c.references.map(_.name).toSet)
      }
    }
    val aggs = sumCols.map(c => sum(col(c)).as(sumAlias(c))) ++
      sumCols.map(c => count(col(c)).as(cntnAlias(c))) ++
      minCols.map(c => min(col(c)).as(minAlias(c))) ++
      maxCols.map(c => max(col(c)).as(maxAlias(c))) :+
      count(lit(1)).as(cntAlias)
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    // materialized row count, kept registry-resident like the FE keeps
    // rollup-index cardinalities: it drives best-index selection when
    // several rollups can serve one aggregate. Metadata-only read
    // (parquet footer count) — no data scan.
    val nRows = spark.read.parquet(mvPath).count()
    val d = MvDef(name, basePath, groupCols, sumCols, minCols, maxCols, mvPath,
      filterSql, canonical.map(_._1), canonical.map(_._2).getOrElse(Set.empty),
      rows = nRows)
    registry.updateWith(basePath) {
      case Some(v) => Some(v.filterNot(_.name == name) :+ d)
      case None => Some(Vector(d))
    }
    d
  }

  /** full refresh (the MTMV refresh job, non-partition-incremental). */
  def refresh(spark: SparkSession, name: String): Unit =
    registry.values.flatten.find(_.name == name).foreach { d =>
      val table = d.basePath.split('/').last.stripSuffix(".parquet")
      create(spark, d.name, d.basePath.stripSuffix(s"/$table.parquet"), table,
        d.groupCols, d.sumCols, d.minCols, d.maxCols,
        d.mvPath.stripSuffix(s"/${d.name}"), d.filterSql)
    }

  def drop(name: String): Unit = {
    registry.keys.foreach(k => registry.updateWith(k)(_.map(_.filterNot(_.name == name))))
    joinRegistry.keys.foreach(k =>
      joinRegistry.updateWith(k)(_.map(_.filterNot(_.name == name))))
  }

  def forPath(p: String): Seq[MvDef] = registry.getOrElse(normalize(p), Vector.empty)

  // ---- join MVs (reference: MTMV over multi-table SELECTs; rewrite
  // rules nereids/rules/exploration/mv/MaterializedViewAggregateOnJoin*
  // — an async MV materializing JOIN + GROUP BY, transparently served
  // to queries with the same join shape).

  case class JoinMvDef(name: String, leftPath: String, rightPath: String,
                       leftKeys: Seq[String], rightKeys: Seq[String],
                       groupCols: Seq[String], sumCols: Seq[String],
                       minCols: Seq[String], maxCols: Seq[String], mvPath: String)

  private val joinRegistry = new TrieMap[(String, String), Vector[JoinMvDef]]()

  def forJoin(l: String, r: String): Seq[JoinMvDef] =
    joinRegistry.getOrElse((l, r), Vector.empty)

  /** the MvDef shape the shared matches/rewrite machinery consumes. */
  def asDef(d: JoinMvDef): MvDef =
    MvDef(d.name, d.leftPath, d.groupCols, d.sumCols, d.minCols, d.maxCols, d.mvPath)

  /** Materialize + register an MV over an inner equi-join of two base
    * parquet tables, with the same partial-agg layout as [[create]].
    * At scale this is the classic pre-joined rollup: the join + both
    * shuffles are paid once at refresh, queries read k rows. */
  def createJoin(spark: SparkSession, name: String, baseDir: String,
                 leftTable: String, rightTable: String,
                 leftKeys: Seq[String], rightKeys: Seq[String],
                 groupCols: Seq[String], sumCols: Seq[String] = Nil,
                 minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
                 mvRoot: String = "target/mv"): JoinMvDef = {
    val lpath = normalize(s"$baseDir/$leftTable.parquet")
    val rpath = normalize(s"$baseDir/$rightTable.parquet")
    val mvPath = s"$mvRoot/$name"
    val l = spark.read.parquet(lpath)
    val r = spark.read.parquet(rpath)
    val cond = leftKeys.zip(rightKeys)
      .map { case (a, b) => l(a) === r(b) }.reduce(_ && _)
    val aggs = sumCols.map(c => sum(col(c)).as(sumAlias(c))) ++
      sumCols.map(c => count(col(c)).as(cntnAlias(c))) ++
      minCols.map(c => min(col(c)).as(minAlias(c))) ++
      maxCols.map(c => max(col(c)).as(maxAlias(c))) :+
      count(lit(1)).as(cntAlias)
    l.join(r, cond, "inner")
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val d = JoinMvDef(name, lpath, rpath, leftKeys.map(_.toLowerCase),
      rightKeys.map(_.toLowerCase), groupCols, sumCols, minCols, maxCols, mvPath)
    joinRegistry.updateWith((lpath, rpath)) {
      case Some(v) => Some(v.filterNot(_.name == name) :+ d)
      case None => Some(Vector(d))
    }
    d
  }

  // ---- partition-incremental refresh (reference:
  // fe/fe-core/.../mtmv/MTMVPartitionUtil.java — MV partitions follow
  // the base table's partitions; a refresh snapshots per-partition
  // source versions and rebuilds only partitions whose version moved).

  case class PartMvDef(name: String, basePath: String, partCol: String,
                       groupCols: Seq[String], sumCols: Seq[String],
                       mvPath: String, versions: Map[String, String])

  private val partRegistry = new TrieMap[String, PartMvDef]()

  /** Per-partition source version: partition value -> fingerprint of
    * its file listing (name + length + mtime; parquet part files carry
    * fresh job UUIDs per write, so any rewrite moves the version). The
    * analog of the reference's MTMVVersionSnapshot. */
  def partitionVersions(spark: SparkSession, basePath: String,
                        partCol: String): Map[String, String] = {
    val path = new org.apache.hadoop.fs.Path(basePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .map { st =>
        val value = st.getPath.getName.substring(partCol.length + 1)
        val files = fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted.mkString("|")
        value -> java.util.UUID.nameUUIDFromBytes(files.getBytes("UTF-8")).toString
      }.toMap
  }

  /** Materialize a PARTITIONED MV over a partitioned base dir and
    * snapshot the per-partition versions. */
  def createPartitioned(spark: SparkSession, name: String, basePath: String,
                        partCol: String, groupCols: Seq[String],
                        sumCols: Seq[String],
                        mvRoot: String = "target/mv"): PartMvDef = {
    val mvPath = s"$mvRoot/$name"
    val aggs = sumCols.map(c => sum(col(c)).as(sumAlias(c))) :+ count(lit(1)).as(cntAlias)
    spark.read.parquet(basePath)
      .groupBy((partCol +: groupCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").partitionBy(partCol).parquet(mvPath)
    val d = PartMvDef(name, basePath, partCol, groupCols, sumCols, mvPath,
      partitionVersions(spark, basePath, partCol))
    partRegistry.put(name, d)
    d
  }

  /** Refresh ONLY the partitions whose source version moved (new,
    * changed, or dropped); unchanged MV partition files are not
    * rewritten (MvSpec asserts their paths+mtimes survive). Returns
    * the stale partition values that were refreshed. */
  def refreshPartitioned(spark: SparkSession, name: String): Seq[String] = {
    val d = partRegistry(name)
    val cur = partitionVersions(spark, d.basePath, d.partCol)
    val stale = (cur.keySet ++ d.versions.keySet).toSeq.sorted
      .filter(v => cur.get(v) != d.versions.get(v))
    if (stale.nonEmpty) {
      val live = stale.filter(cur.contains)
      if (live.nonEmpty) {
        val aggs = d.sumCols.map(c => sum(col(c)).as(sumAlias(c))) :+
          count(lit(1)).as(cntAlias)
        // dynamic partition overwrite: only the written (= stale)
        // partitions are replaced, everything else is left on disk
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try {
          spark.read.parquet(d.basePath)
            .filter(col(d.partCol).cast("string").isin(live: _*))
            .groupBy((d.partCol +: d.groupCols).map(col): _*)
            .agg(aggs.head, aggs.tail: _*)
            .write.mode("overwrite").partitionBy(d.partCol).parquet(d.mvPath)
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
      // dropped source partitions: dynamic overwrite writes no rows for
      // them, so their MV dirs are removed explicitly
      val mvRoot = new org.apache.hadoop.fs.Path(d.mvPath)
      val fs = mvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      stale.filterNot(cur.contains).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"${d.mvPath}/${d.partCol}=$v"), true)
      }
    }
    partRegistry.put(name, d.copy(versions = cur))
    stale
  }

  def readPartitioned(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(partRegistry(name).mvPath)

  private def normalize(p: String): String =
    new java.io.File(p).getAbsolutePath

  /** root path of a parquet LogicalRelation, if it is one. */
  def relationPath(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(p => normalize(p.toUri.getPath))
    case _ => None
  }
}

/** The transparent-rewrite optimizer rule (injected via
  * SparkSessionExtensions.injectOptimizerRule). */
class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
      tryRewrite(agg, groupExprs, aggExprs, child).getOrElse(agg)
  }

  private def tryRewrite(agg: Aggregate, groupExprs: Seq[Expression],
                         aggExprs: Seq[NamedExpression],
                         child: LogicalPlan): Option[LogicalPlan] = {
    // strip SubqueryAlias / trivial-Project / Filter layers down to the
    // relation, collecting filter conditions (plan shape varies by
    // optimizer phase: Project(Filter(Rel)), Filter(Project(Rel)), …)
    @annotation.tailrec
    def unwrap(p: LogicalPlan, conds: Seq[Expression]): (Seq[Expression], LogicalPlan) =
      p match {
        case SubqueryAlias(_, c) => unwrap(c, conds)
        case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
          unwrap(c, conds)
        case Filter(cond, c) => unwrap(c, conds :+ cond)
        case other => (conds, other)
      }
    val (conds0, rel) = unwrap(child, Nil)
    val conjuncts = conds0.flatMap(splitConjuncts)
    rel match {
      case j: Join => tryJoinRewrite(agg, groupExprs, aggExprs, conjuncts, j)
      case _ =>
        for {
          path <- relationPath(rel)
          // best-index selection (reference:
          // SelectMaterializedIndexWithAggregate.java): among ALL
          // rollups that can serve this aggregate, scan the one with
          // the fewest materialized rows (registry-resident counts;
          // coarser rollup = cheaper scan), tie-broken by group-key
          // arity then name for determinism.
          (mv, residual) <- {
            val qualifying = forPath(path).flatMap { m =>
              consumeFilter(m, conjuncts).map(r => (m, r))
            }.filter { case (m, residual) =>
              matches(m, groupExprs, aggExprs, residual.reduceOption(And))
            }
            if (qualifying.isEmpty) None
            else Some(qualifying.minBy { case (m, _) =>
              (if (m.rows >= 0) m.rows else Long.MaxValue,
                m.groupCols.size.toLong, m.name)
            })
          }
        } yield rewrite(mv, agg, groupExprs, aggExprs, residual.reduceOption(And))
    }
  }

  /** Aggregate over an inner equi-join of two registered base scans ->
    * the pre-joined MV, when the join keys match the MV definition
    * (either orientation) and the aggregate is derivable. Filters may
    * sit ABOVE the join (group-key-only, kept over the MV scan);
    * filters inside a join side bail — the MV pre-joined unfiltered
    * rows — EXCEPT IsNotNull guards on the join keys themselves, which
    * the optimizer infers from the inner equi-join and which cannot
    * change its output. Like the single-table rewrite it applies
    * whenever a registered join MV matches: creating the MV is the
    * opt-in. */
  private def tryJoinRewrite(agg: Aggregate, groupExprs: Seq[Expression],
                             aggExprs: Seq[NamedExpression],
                             conjuncts: Seq[Expression],
                             j: Join): Option[LogicalPlan] = j match {
    case Join(lc, rc, org.apache.spark.sql.catalyst.plans.Inner, Some(cond), _) =>
      for {
        (lguards, lrel) <- stripSide(lc, Set.empty)
        (rguards, rrel) <- stripSide(rc, Set.empty)
        lpath <- relationPath(lrel)
        rpath <- relationPath(rrel)
        pairs <- equiPairs(cond, lc.outputSet, rc.outputSet)
        keyNames = pairs.flatMap(p => Seq(p._1, p._2))
        if (lguards ++ rguards).subsetOf(keyNames)
        mv <- (forJoin(lpath, rpath).find(d =>
                 pairs == d.leftKeys.zip(d.rightKeys).toSet) orElse
               forJoin(rpath, lpath).find(d =>
                 pairs == d.rightKeys.zip(d.leftKeys).toSet))
        if matches(asDef(mv), groupExprs, aggExprs, conjuncts.reduceOption(And))
      } yield rewrite(asDef(mv), agg, groupExprs, aggExprs,
        conjuncts.reduceOption(And))
    case _ => None
  }

  /** unwrap one join side, collecting the column names of IsNotNull
    * guards (tolerated iff they turn out to be join keys). */
  @annotation.tailrec
  private def stripSide(p: LogicalPlan, guards: Set[String])
      : Option[(Set[String], LogicalPlan)] = p match {
    case SubqueryAlias(_, c) => stripSide(c, guards)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripSide(c, guards)
    case Filter(cond, c) =>
      val nn = splitConjuncts(cond).map {
        case IsNotNull(a: AttributeReference) => Some(a.name.toLowerCase)
        case _ => None
      }
      if (nn.forall(_.isDefined)) stripSide(c, guards ++ nn.flatten)
      else None
    case r if relationPath(r).isDefined => Some((guards, r))
    case _ => None
  }

  /** (leftName, rightName) equi pairs of the join condition, or None
    * when any conjunct is not attr-=-attr across the two sides. */
  private def equiPairs(cond: Expression, lout: AttributeSet,
                        rout: AttributeSet): Option[Set[(String, String)]] = {
    val pairs = splitConjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if lout.contains(a) && rout.contains(b) =>
        Some((a.name.toLowerCase, b.name.toLowerCase))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if lout.contains(a) && rout.contains(b) =>
        Some((a.name.toLowerCase, b.name.toLowerCase))
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.flatten.toSet) else None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** For a filtered MV: consume the query conjunct whose canonical SQL
    * equals the MV's stored filter, and drop IsNotNull conjuncts the
    * consumed filter implies. Returns the residual conjuncts, or None
    * when the MV's filter is absent from the query. */
  private def consumeFilter(mv: MvDef, conjuncts: Seq[Expression]): Option[Seq[Expression]] =
    mv.filterCanonical match {
      case None => Some(conjuncts)
      case Some(fc) =>
        val idx = conjuncts.indexWhere(_.sql == fc)
        if (idx < 0) None
        else Some(conjuncts.patch(idx, Nil, 1).filterNot {
          case IsNotNull(a: AttributeReference) => mv.filterRefs.contains(a.name)
          case _ => false
        })
    }

  private def colName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def matches(mv: MvDef, groupExprs: Seq[Expression],
                      aggExprs: Seq[NamedExpression], filterOpt: Option[Expression]): Boolean = {
    val groupOk = groupExprs.forall(g => colName(g).exists(mv.groupCols.contains))
    val filterOk = filterOpt.forall(_.references.forall(r => mv.groupCols.contains(r.name)))
    // every aggregate leaf must be derivable, and every column referenced
    // OUTSIDE an aggregate must be a group key of the MV.
    val aggsOk = aggExprs.forall { ne =>
      val aggs = ne.collect { case ae: AggregateExpression => ae }
      val outside = ne.transform { case _: AggregateExpression => Literal(0L) }
      aggs.forall(derivable(mv, _)) &&
        outside.references.forall(r => mv.groupCols.contains(r.name))
    }
    groupOk && filterOk && aggsOk
  }

  private def derivable(mv: MvDef, ae: AggregateExpression): Boolean =
    !ae.isDistinct && (ae.aggregateFunction match {
      case Sum(e, _) => colName(e).exists(mv.sumCols.contains)
      case Min(e) => colName(e).exists(mv.minCols.contains)
      case Max(e) => colName(e).exists(mv.maxCols.contains)
      case Count(Seq(Literal(_, _))) => true
      case Count(Seq(e)) => colName(e).exists(mv.sumCols.contains)
      case Average(e, _) =>
        colName(e).exists(c => mv.sumCols.contains(c))
      case _ => false
    })

  private def rewrite(mv: MvDef, agg: Aggregate, groupExprs: Seq[Expression],
                      aggExprs: Seq[NamedExpression],
                      filterOpt: Option[Expression]): LogicalPlan = {
    val mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
    val byName = mvPlan.output.map(a => a.name -> a).toMap

    def mvCol(n: String): Attribute = byName(n)

    // derive one AggregateExpression from the MV partials
    def derive(ae: AggregateExpression): Expression = ae.aggregateFunction match {
      case Sum(e, _) =>
        val s = ae.copy(aggregateFunction = Sum(mvCol(sumAlias(colName(e).get))))
        // preserve the original result type (sum-of-sums widens decimals)
        if (s.dataType == ae.dataType) s else Cast(s, ae.dataType)
      case Min(e) => ae.copy(aggregateFunction = Min(mvCol(minAlias(colName(e).get))))
      case Max(e) => ae.copy(aggregateFunction = Max(mvCol(maxAlias(colName(e).get))))
      case Count(Seq(Literal(_, _))) =>
        // COUNT over an empty/fully-filtered input is 0, but SUM of no
        // partials is NULL — coalesce restores COUNT semantics.
        Coalesce(Seq(ae.copy(aggregateFunction = Sum(mvCol(cntAlias))), Literal(0L)))
      case Count(Seq(e)) =>
        Coalesce(Seq(
          ae.copy(aggregateFunction = Sum(mvCol(cntnAlias(colName(e).get)))),
          Literal(0L)))
      case Average(e, _) =>
        val c = colName(e).get
        val sums = ae.copy(aggregateFunction = Sum(mvCol(sumAlias(c))))
        // denominator = per-column non-null count, not count(1): AVG
        // ignores NULLs (reference rollup stores non-null counts too).
        val cnts = ae.copy(aggregateFunction = Sum(mvCol(cntnAlias(c))),
          resultId = NamedExpression.newExprId)
        Cast(Divide(Cast(sums, org.apache.spark.sql.types.DoubleType),
          Cast(cnts, org.apache.spark.sql.types.DoubleType)), ae.dataType)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    // rewrite an arbitrary expression tree over aggs + group cols —
    // manual recursion so we never descend into a replacement (the
    // derived Sum is itself an AggregateExpression).
    def rewriteExpr(e: Expression): Expression = e match {
      case ae: AggregateExpression => derive(ae)
      case a: AttributeReference => mvCol(a.name)
      case other => other.mapChildren(rewriteExpr)
    }
    // re-aggregation over the MV partials, preserving output exprIds
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference =>
        Alias(mvCol(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        Alias(rewriteExpr(child), name)(exprId = al.exprId)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    val newGroup = groupExprs.map(g => mvCol(colName(g).get))
    val newChild = filterOpt match {
      case Some(cond) =>
        val rewritten = cond.transform {
          case a: AttributeReference => mvCol(a.name)
        }
        Filter(rewritten, mvPlan)
      case None => mvPlan
    }
    Aggregate(newGroup, newAggExprs, newChild)
  }
}
