package graft.functions

import scala.util.{Failure, Try}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo,
  InheritAnalysisRules, LambdaFunction, Literal, RuntimeReplaceable,
  UnresolvedNamedLambdaVariable, With}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count,
  HyperLogLogPlusPlus, Sum}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graftshim.ColumnShim

/** Central registry of graft's custom functions (reference FE:
  * fe/fe-core/.../catalog/BuiltinScalarFunctions.java:601+ and
  * BuiltinAggregateFunctions.java — one static registry per process,
  * re-expressed as one JVM-wide list of Catalyst function entries that
  * [[graft.GraftExtensions]] injects into every session).
  */
object FunctionRegistry {

  type Builder = Seq[Expression] => Expression

  /** Expression-backed functions injected via extensions — native
    * Catalyst builders (no UDF layer), so they plan and codegen exactly
    * like builtins. Doris names from BuiltinAggregateFunctions.java:
    * ndv/approx_distinct (HLL++), multi_distinct_count/sum (the
    * SplitMultiDistinct path is Catalyst's RewriteDistinctAggregates),
    * murmur_hash3_32 (spec-compliant murmur3; variadic STRING args,
    * seeded with HashUtil::MURMUR3_32_SEED = 104729 and chained —
    * hash of arg N is seeded with the hash of args 1..N-1 — per
    * function_hash.cpp first_apply/combine_apply; zero args yield the
    * int32 truncation of the reference's emtpy_value constant.
    * Verified against the reference's published output vectors
    * (regression-test/data/nereids_function_p0/scalar_function/M.out).
    * Spark's builtin hash() tail-mixing differs, hence the custom
    * Expression). */
  def builders: Seq[(String, Builder)] = Seq(
    "ndv" -> ((args: Seq[Expression]) =>
      new HyperLogLogPlusPlus(args.head).toAggregateExpression()),
    "approx_distinct" -> ((args: Seq[Expression]) =>
      new HyperLogLogPlusPlus(args.head).toAggregateExpression()),
    "multi_distinct_count" -> ((args: Seq[Expression]) =>
      Count(args).toAggregateExpression(isDistinct = true)),
    "multi_distinct_sum" -> ((args: Seq[Expression]) =>
      Sum(args.head).toAggregateExpression(isDistinct = true)),
    "murmur_hash3_32" -> ((args: Seq[Expression]) =>
      if (args.isEmpty) Literal(0xe28dbde7fe22e41cL.toInt)
      else args.foldLeft[Expression](Literal(104729)) {
        (seed, s) => MurmurHash3_32(s, seed)
      }),
    // x64_64 variant: seed 0 (insert_many_defaults), same chaining
    "murmur_hash3_64" -> ((args: Seq[Expression]) =>
      if (args.isEmpty) Literal(0xe28dbde7fe22e41cL)
      else args.foldLeft[Expression](Literal(0L)) {
        (seed, s) => MurmurHash3_64(s, seed)
      }),
    // standard XXH32, seed 0, chained (xxhash_64 = XXH3 lives in
    // XxHash3.scala)
    "xxhash_32" -> ((args: Seq[Expression]) =>
      if (args.isEmpty) Literal(0xe28dbde7fe22e41cL.toInt)
      else args.foldLeft[Expression](Literal(0)) {
        (seed, s) => XxHash32Expr(s, seed)
      }),
    // xxhash_64 = XXH3-64 (function_hash.cpp uses xxh3.h), seed 0,
    // hash of arg N seeded with the hash of args 1..N-1 like murmur;
    // 0x2D06800538D394C2 is the published empty-input vector
    "xxhash_64" -> ((args: Seq[Expression]) =>
      if (args.isEmpty) Literal(0x2D06800538D394C2L)
      else args.foldLeft[Expression](Literal(0L)) {
        (seed, s) => XxHash3Expr(s, seed)
      }),
    "xxhash3_64" -> ((args: Seq[Expression]) =>
      if (args.isEmpty) Literal(0x2D06800538D394C2L)
      else args.foldLeft[Expression](Literal(0L)) {
        (seed, s) => XxHash3Expr(s, seed)
      }),
    // internal LSH kernels (ops/VectorSearch banded near-dup): codegen
    // band-signature + inner-product expressions — see BandSigsExpr.scala
    "graft_band_sigs" -> ((args: Seq[Expression]) => args match {
      case Seq(v, Literal(p: Int, _), Literal(b: Int, _)) =>
        BandSignatures(v, p, b)
      case _ => throw new IllegalArgumentException(
        "graft_band_sigs(vec ARRAY<DOUBLE>, nPlanes INT literal, nBands INT literal)")
    }),
    "graft_dot" -> ((args: Seq[Expression]) => args match {
      case Seq(a, b) => DotProduct(a, b)
      case _ => throw new IllegalArgumentException(
        "graft_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)")
    }),
    "graft_l2sq" -> ((args: Seq[Expression]) => args match {
      case Seq(a, b) => L2Squared(a, b)
      case _ => throw new IllegalArgumentException(
        "graft_l2sq(a ARRAY<FLOAT|DOUBLE>, b ARRAY<FLOAT|DOUBLE>)")
    }),
    "graft_minhash_bands" -> ((args: Seq[Expression]) => args match {
      case Seq(h, Literal(b: Int, _), Literal(r: Int, _)) =>
        MinhashBands(h, b, r)
      case _ => throw new IllegalArgumentException(
        "graft_minhash_bands(hsh ARRAY<BIGINT>, nBands INT literal, r INT literal)")
    }),
    "graft_sort_longs" -> ((args: Seq[Expression]) => args match {
      case Seq(a) => SortLongs(a)
      case _ => throw new IllegalArgumentException(
        "graft_sort_longs(a ARRAY<BIGINT>)")
    }),
    "graft_inter_sorted" -> ((args: Seq[Expression]) => args match {
      case Seq(a, b) => InterSortedCount(a, b)
      case _ => throw new IllegalArgumentException(
        "graft_inter_sorted(a ARRAY<BIGINT>, b ARRAY<BIGINT>)")
    }),
    // per-row centroid-assignment kernels (ops/VectorSearch IVF/k-means/
    // PQ paths): top-n cells / per-subspace codes in one kernel call —
    // see CellTopExpr.scala
    "graft_cell_top" -> ((args: Seq[Expression]) => args match {
      case Seq(v, c, Literal(n: Int, _),
               Literal(m: org.apache.spark.unsafe.types.UTF8String, _)) =>
        CellTopK(v, c, n, m.toString)
      case _ => throw new IllegalArgumentException(
        "graft_cell_top(v ARRAY<DOUBLE>, cents ARRAY<STRUCT<cid INT|BIGINT, " +
          "cv ARRAY<DOUBLE>>>, n INT literal, metric STRING literal)")
    }),
    "graft_pq_codes" -> ((args: Seq[Expression]) => args match {
      case Seq(v, b) => PqCodes(v, b)
      case _ => throw new IllegalArgumentException(
        "graft_pq_codes(v ARRAY<DOUBLE>, books ARRAY<ARRAY<STRUCT<code INT, " +
          "cv ARRAY<DOUBLE>>>>)")
    }),
    // Doris-named higher-order functions (function_array_map.cpp etc.) —
    // lambdas can't ride SQL UDFs, so these alias the native HOF
    // expressions directly
    "array_map" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayTransform(args.head, args(1))),
    "array_filter" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayFilter(args.head, args(1))),
    "array_exists" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayExists(args.head, args(1))),
    // NOTE: composite shapes over a lambda (e.g. array_first_index)
    // cannot be builder-aliased via wrapper roots — the analyzer
    // requires the resolved function's ROOT to be a
    // HigherOrderFunction; LambdaArrays compiles them into single
    // ArrayAggregate/ArraySort roots instead.
    // ---- remaining Doris aggregate names (BuiltinAggregateFunctions
    // .java): sum0 = SUM with 0 instead of NULL on empty input;
    // corr_welford shares corr's closed form (the Welford recurrence is
    // an implementation detail, not a semantic); group_uniq_array =
    // sorted distinct collect; booland/boolor _agg spellings.
    "sum0" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
        Sum(args.head).toAggregateExpression(), Literal(0L)))),
    "multi_distinct_sum0" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
        Sum(args.head).toAggregateExpression(isDistinct = true), Literal(0L)))),
    "corr_welford" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Corr(args.head, args(1))
        .toAggregateExpression()),
    "group_uniq_array" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.SortArray(
        org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet(args.head)
          .toAggregateExpression(),
        Literal(true))),
    "booland_agg" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BoolAnd(args.head)
        .toAggregateExpression()),
    "boolor_agg" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BoolOr(args.head)
        .toAggregateExpression()),
    // ---- JSON construction (function_to_json.cpp json_array /
    // json_object / json_array_ignore_null): variadic, so they ride
    // builders over to_json; arguments coerce to CreateArray/CreateMap's
    // common type (the Doris mixed-type case coerces to string — noted
    // in COVERAGE.md)
    "json_array" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.CreateArray(args))),
    "json_array_ignore_null" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.ArrayCompact(
          org.apache.spark.sql.catalyst.expressions.CreateArray(args)))),
    "jsonb_array" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.CreateArray(args))),
    "json_object" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.CreateMap(args))),
    "jsonb_object" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.CreateMap(args))),
    // ---- variadic MySQL conveniences (printf-style format, field,
    // make_set) — expression trees, codegen'd
    "format" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.FormatString(args: _*)),
    "field" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
        org.apache.spark.sql.catalyst.expressions.ArrayPosition(
          org.apache.spark.sql.catalyst.expressions.CreateArray(args.tail),
          args.head),
        Literal(0L)))),
    "make_set" -> ((args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions._
      val bits = args.head
      val picked = args.tail.zipWithIndex.map { case (e, i) =>
        If(EqualTo(BitwiseAnd(ShiftRight(bits, Literal(i)), Literal(1L)), Literal(1L)),
          e, Literal(null, org.apache.spark.sql.types.StringType))
      }
      ConcatWs(Literal(",") +: picked)
    }),
    // ---- array tail (function_array_*.cpp): native-expression aliases.
    // array_match_all/any take the lambda FIRST (Doris argument order);
    // the HOF root makes lambda binding legal in a builder.
    "array_zip" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.ArraysZip(args)),
    "array_flatten" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.Flatten(args.head)),
    "array_shuffle" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.Shuffle(args.head)),
    "array_match_all" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayForAll(args(1), args.head)),
    "array_match_any" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayExists(args(1), args.head)),
    // struct_element(struct, 'name') — name-based extraction (the
    // reference also allows 1-based ordinals; ordinal form documented
    // unsupported: unresolved builders cannot see the struct arity)
    "struct_element" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(args.head, args(1))),
    // hll_raw_agg = union of HLL sketches (Doris alias of hll_union)
    "hll_raw_agg" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.HllUnionAgg(args.head)
        .toAggregateExpression()),
    "jsonb_array_ignore_null" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.StructsToJson(
        org.apache.spark.sql.catalyst.expressions.ArrayCompact(
          org.apache.spark.sql.catalyst.expressions.CreateArray(args)))),
    // NOTE: lambda-first composites (array_count/first/last/
    // first_index/last_index/sortby/split) cannot be builder-aliased —
    // the analyzer accepts a lambda argument only when the registered
    // function's ROOT expression is itself a HigherOrderFunction
    // (verified: Size(ArrayFilter(...)) is rejected with
    // INVALID_LAMBDA_FUNCTION_CALL). array_match_all/any qualify; the
    // rest compose from native HOFs at the query level (documented).
    "array_match_any2" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.ArrayExists(args(1), args.head)),
    // ---- exact-name aggregate tail (BuiltinAggregateFunctions.java):
    // scalar-expressible forms ride native Catalyst aggregates
    "avg_weighted" -> ((args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions._
      val d = org.apache.spark.sql.types.DoubleType
      Divide(
        Sum(Multiply(Cast(args.head, d), Cast(args(1), d))).toAggregateExpression(),
        Sum(Cast(args(1), d)).toAggregateExpression())
    }),
    "covar" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.CovPopulation(args.head, args(1))
        .toAggregateExpression()),
    "variance_pop" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.VariancePop(args.head)
        .toAggregateExpression()),
    "variance_samp" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.VarianceSamp(args.head)
        .toAggregateExpression()),
    "skew" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Skewness(args.head)
        .toAggregateExpression()),
    "skew_pop" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Skewness(args.head)
        .toAggregateExpression()),
    "kurt" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(args.head)
        .toAggregateExpression()),
    "kurt_pop" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(args.head)
        .toAggregateExpression()),
    // standard error of the mean: stddev_samp / sqrt(n)
    "sem" -> ((args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions._
      Divide(
        aggregate.StddevSamp(args.head).toAggregateExpression(),
        Sqrt(Cast(aggregate.Count(Seq(args.head)).toAggregateExpression(),
          org.apache.spark.sql.types.DoubleType)))
    }),
    "group_bit_and" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BitAndAgg(args.head)
        .toAggregateExpression()),
    "group_bit_or" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BitOrAgg(args.head)
        .toAggregateExpression()),
    "group_bit_xor" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.BitXorAgg(args.head)
        .toAggregateExpression()),
    "group_array" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(args.head)
        .toAggregateExpression()),
    // map_agg(k, v) = map_from_entries(collect_list(struct(k, v)))
    "map_agg" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.MapFromEntries(
        org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(
          org.apache.spark.sql.catalyst.expressions.CreateStruct(args))
          .toAggregateExpression())),
    "map_agg_v1" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.MapFromEntries(
        org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(
          org.apache.spark.sql.catalyst.expressions.CreateStruct(args))
          .toAggregateExpression())),
    "map_agg_v2" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.MapFromEntries(
        org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(
          org.apache.spark.sql.catalyst.expressions.CreateStruct(args))
          .toAggregateExpression())),
    "percentile_array" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(args.head, args(1))
        .toAggregateExpression()),
    // reservoir form is sampling-based in the reference; exact here
    // (stronger guarantee, documented)
    "percentile_reservoir" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(args.head, args(1))
        .toAggregateExpression()),
    "datasketches_hll_union_agg" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.HllUnionAgg(args.head)
        .toAggregateExpression()),
    "ds_hll_estimate" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(args.head)),
    "datasketches_hll_estimate" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(args.head)),
    // search('<dsl>') — the inverted-index DSL entry point
    // (function_search.h:46, SearchDslParser.java): the literal parses
    // at analysis time and rewrites to match_*/tokenize predicates over
    // the referenced columns, the RewriteSearchToSlots analog
    "search" -> ((args: Seq[Expression]) => graft.ops.SearchDsl.builder(args)),
    // score() — the BM25 relevance of the row under the search()
    // predicate in the same query block (function_score.cpp): resolves
    // to a placeholder that ScoreRewriteRule expands
    "score" -> ((args: Seq[Expression]) => {
      require(args.isEmpty,
        "score() takes no arguments - it is the relevance of the row under " +
          "the search('<dsl>') predicate in the same query block")
      graft.plans.ScoreRewrite.ScoreCall()
    })
  ) ++
    // Doris lambda-first array composites compiled to single
    // ArrayAggregate/ArraySort roots (the HOF-root constraint above no
    // longer blocks them — see LambdaArrays)
    LambdaArrays.builders

  /** SQL-bodied definitions, each `name(p T, ...) RETURNS R RETURN body`. */
  private[graft] def sqlDefs: Seq[String] =
    AiFunctions.sqlDefs ++ MiscFunctions.sqlDefs ++ VectorFunctions.sqlDefs ++
      AliasFunctions.sqlDefs ++ AliasFunctions2.sqlDefs ++ MoreAggs.sqlDefs

  private def udfs: Seq[(String, UserDefinedFunction)] = Seq(Bitmaps.udfs, BehaviorAggs.udfs,
    JsonFunctions.udfs, CodecFunctions.udfs, HllFunctions.udfs, AliasFunctions.udfs, Ipv6Functions.udfs,
    MoreAggs.udfs, MapAggs.udfs, ParamAggs.udfs, MiscFunctions2.udfs, GeoFunctions.udfs, SmCrypto.udfs).flatten

  /** Every graft function, built once per JVM: the native builders, the
    * SQL-bodied definitions and the JVM UDFs/UDAFs. [[GraftExtensions]]
    * injects it into each session, so a session registers nothing
    * itself; an entry whose name is a Spark builtin replaces it. */
  lazy val entries: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = {
    val all = builders ++ sqlFunctions(sqlDefs) ++
      udfs.map { case (name, u) => name -> udfBuilder(name, u) }
    val dup = all.groupBy(_._1).collect { case (name, bs) if bs.size > 1 => name }
    require(dup.isEmpty, s"duplicate graft function names: ${dup.mkString(", ")}")
    all.map { case (name, b) => (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), b) }
  }

  def registerExtensions(e: SparkSessionExtensions): Unit = entries.foreach(e.injectFunction)

  /** Registers on `spark` each entry its registry lacks, for a session
    * built without [[GraftExtensions]]; a session built with them lacks
    * none. A builtin of the same name is dropped first, so the override
    * logs no replace warning. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.lookupFunctionBuilder(id).contains(builder)) {
        registry.dropFunction(id)
        registry.registerFunction(id, info, builder)
      }
    }
  }

  private val Definition = """(?s)\s*(\w+)\s*\((.*?)\)\s*RETURNS\s+(.+?)\s+RETURN\s+(.+)""".r

  /** Parses each definition into a builder, failing with the name of
    * every definition that does not parse. */
  private[graft] def sqlFunctions(defs: Seq[String]): Seq[(String, Builder)] = {
    val parsed = defs.map(d => d -> Try(sqlFunction(d)))
    val failed = parsed.collect { case (d, Failure(e)) =>
      s"${d.trim.takeWhile(_ != '(')}: ${e.getMessage.linesIterator.nextOption().getOrElse("")}"
    }
    require(failed.isEmpty, s"SQL-bodied function definitions failed: ${failed.mkString("; ")}")
    parsed.map(_._2.get)
  }

  /** One SQL-bodied function, bound as Spark binds a SQL function
    * (SessionCatalog.makeSQLFunctionPlan): each argument as Cast(arg, T),
    * the body as Cast(body, R). Functions the body calls resolve by name
    * when the call is analyzed. */
  private def sqlFunction(definition: String): (String, Builder) = definition match {
    case Definition(name, paramDdl, returns, text) =>
      val params = if (paramDdl.isBlank) Nil else CatalystSqlParser.parseTableSchema(paramDdl).fields.toSeq
      val returnType = CatalystSqlParser.parseDataType(returns)
      val body = CatalystSqlParser.parseExpression(text)
      name -> { args =>
        if (args.size != params.size) throw ColumnShim.wrongNumArgs(name, params.size, args.size)
        val bound = params.zip(args).map { case (p, a) => p.name.toLowerCase -> Cast(a, p.dataType) }
        def bodyOver(env: Seq[(String, Expression)]) = Cast(bind(body, env.toMap), returnType)
        // a nondeterministic argument is evaluated once per row, however
        // often the body names it
        val (shared, inlined) = bound.partition(!_._2.deterministic)
        SqlFunctionCall(name, args,
          if (shared.isEmpty) bodyOver(inlined)
          else With(shared.map(_._2): _*)(refs => bodyOver(inlined ++ shared.map(_._1).zip(refs))))
      }
    case _ => throw new IllegalArgumentException("expected name(p T, ...) RETURNS R RETURN body")
  }

  /** `e` with each parameter reference replaced by its argument, except
    * under a lambda that binds the same name. */
  private def bind(e: Expression, args: Map[String, Expression]): Expression = e match {
    case LambdaFunction(fn, vars, hidden) =>
      LambdaFunction(bind(fn, args -- vars.map(_.name.toLowerCase)), vars, hidden)
    case UnresolvedAttribute(Seq(n)) if args.contains(n.toLowerCase) => args(n.toLowerCase)
    // the parser makes every name inside a lambda body a lambda variable
    case UnresolvedNamedLambdaVariable(Seq(n)) if args.contains(n.toLowerCase) => args(n.toLowerCase)
    case _ => e.mapChildren(bind(_, args))
  }

  /** A JVM UDF or UDAF bound as `spark.udf.register` binds it: a ScalaUDF
    * of the UDF's arity, or the ScalaAggregator that function resolution
    * wraps. */
  private def udfBuilder(name: String, u: UserDefinedFunction): Builder = {
    val named = u.withName(name)
    args => {
      ColumnShim.arity(u).filter(_ != args.size)
        .foreach(n => throw ColumnShim.wrongNumArgs(name, n, args.size))
      ColumnShim.expression(named(args.map(ColumnShim.column): _*)) match {
        case agg: AggregateExpression => agg.aggregateFunction
        case e => e
      }
    }
  }
}

/** A call of a SQL-bodied graft function. The analyzer resolves its bound
  * body in place; the call keeps the function's name in output column
  * names, as a SQL function's does, and gives way to the body before
  * optimization. */
case class SqlFunctionCall(name: String, parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}
