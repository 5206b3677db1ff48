package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing of the graft rewrite rules that run by
  * default: randomized query shapes (seeded, deterministic) run as
  * planned and with those rules excluded through Spark's own
  * `spark.sql.optimizer.excludedRules` — results must be identical
  * row-for-row. Hand-written specs pin each rule's known shapes; this
  * hunts the unknown ones, especially cross-rule interactions.
  *
  * The generator concentrates probability mass on the shapes rewrite
  * rules match — two-level aggregates, derived group keys, unique-key
  * groupings, lineitem⋈orders equi-joins — plus off-shapes that must
  * no-fire cleanly. ScoreRewriteRule is not excluded: it gives
  * score() its meaning. */
class RuleDifferentialSpec extends AnyFunSuite {
  import TestSpark._

  private val rules = GraftExtensions.measuredRules.map(_.ruleName)

  private def withAll[T](on: Boolean)(f: => T): T =
    if (on) f else withoutRules(rules: _*)(f)

  private def li = Tables.load(spark, sf, "lineitem")
  private def ord = Tables.load(spark, sf, "orders")

  /** one deterministic random query per seed. */
  private def gen(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))

    val numCols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val liKeys = Seq("l_returnflag", "l_linestatus", "l_suppkey")
    val ordKeys = Seq("o_orderstatus", "o_orderpriority")

    def aggList(cols: Seq[String]): Seq[Column] = {
      val fns: Seq[String => Column] = Seq(
        c => round(sum(col(c)), 6).as(s"s_$c"),
        c => round(min(col(c)), 6).as(s"mn_$c"),
        c => round(max(col(c)), 6).as(s"mx_$c"),
        c => count(col(c)).as(s"c_$c"))
      val n = 1 + r.nextInt(3)
      Seq.fill(n)(pick(fns)(pick(cols))) :+ count(lit(1)).as("n_rows")
    }

    r.nextInt(20) match {
      case 0 => // two-level aggregate (MergeAggregate territory)
        val k2 = pick(liKeys)
        val inner = li.groupBy(col("l_orderkey"), col(k2))
          .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"),
            min(col("l_discount")).as("mnd"))
        inner.groupBy(col(k2))
          .agg(round(sum(col("sq")), 6).as("s2"), sum(col("cnt")).as("n2"),
            round(min(col("mnd")), 6).as("m2"))
          .orderBy(col(k2))
      case 1 => // derived group keys
        ord.groupBy(col("o_orderdate"),
            year(col("o_orderdate")).cast("long").as("y"),
            (month(col("o_orderdate")) + lit(r.nextInt(3))).cast("long").as("mx"))
          .agg(aggList(Seq("o_totalprice")).head, count(lit(1)).as("n"))
          .orderBy(col("o_orderdate"))
      case 2 => // unique-key grouping
        ord.filter(col("o_custkey") % (2 + r.nextInt(5)) === 0)
          .groupBy(col("o_orderkey"))
          .agg(round(sum(col("o_totalprice")), 6).as("sp"),
            max(col("o_orderpriority")).as("p"), count(lit(1)).as("n"))
          .orderBy(col("o_orderkey")).limit(500)
      case 3 => // join + aggregate
        val keys = Seq(col(pick(ordKeys))) ++
          (if (r.nextBoolean()) Seq(col(pick(liKeys))) else Nil)
        val as = aggList(numCols)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(keys: _*)
          .agg(as.head, as.tail: _*)
          .orderBy(keys: _*)
      case 5 => // TopN over an outer join (TopNPushdown territory);
        // unique tiebreaker keeps the on/off row sets comparable
        val k = 1 + r.nextInt(40)
        val cust = Tables.load(spark, sf, "customer")
        ord.join(cust, col("o_custkey") === col("c_custkey"), "left_outer")
          .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(k)
      case 6 => // TopN over a bare UNION ALL (TopNPushdown must no-fire)
        val k = 1 + r.nextInt(20)
        val b1 = ord.select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
        val b2 = li.select(col("l_orderkey").as("k"), col("l_extendedprice").as("v"))
        b1.unionAll(b2).orderBy(col("v").desc, col("k")).limit(k)
      case 7 => // TopN over DISTINCT over UNION ALL (TopNPushdown territory)
        val k = 1 + r.nextInt(10)
        val b1 = ord.select(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
        val b2 = li.select(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
        b1.unionAll(b2).distinct().orderBy(col("a"), col("b")).limit(k)
      case 8 => // TopN over a CROSS join — half the seeds condition-free
        // (rule may fire), half with a WHERE that Spark fuses into the
        // join condition keeping joinType Cross (must no-fire; the r7
        // advice soundness hole). Tie rows sort-normalized by the test.
        val k = 1 + r.nextInt(10)
        val cust = Tables.load(spark, sf, "customer")
        if (r.nextBoolean())
          // single-row right side keeps the output order deterministic
          // while the join stays condition-free Cross (the filter sits
          // BELOW the join) — the rule fires on the left.
          ord.crossJoin(Tables.load(spark, sf, "region")
              .filter(col("r_name") === "ASIA"))
            .select(col("o_orderkey"), col("o_totalprice"), col("r_name"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))
            .limit(k)
        else
          ord.crossJoin(cust).filter(col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))
            .limit(k)
      case 9 => // UNION ALL of two joins sharing the right side, TopN on
        // top.
        val k = 1 + r.nextInt(15)
        def leg(f: Column): DataFrame =
          li.filter(f).join(ord, col("l_orderkey") === col("o_orderkey"))
            .select(col("o_orderpriority").as("p"), col("l_extendedprice").as("v"),
              col("l_orderkey").as("k0"), col("l_linenumber").as("k1"))
        leg(col("l_linenumber") <= 3).unionAll(leg(col("l_linenumber") > 3))
          .orderBy(col("v").desc, col("k0"), col("k1")).limit(k)
      case 10 => // MergeAggregate over a derived key: two-level agg
        // whose OUTER grouping carries a derived key of a surviving key.
        val inner = li.groupBy(col("l_shipdate"), col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
        inner.groupBy(col("l_shipdate"),
            year(col("l_shipdate")).cast("long").as("y"),
            (month(col("l_shipdate")) + lit(r.nextInt(2))).cast("long").as("mx"))
          .agg(round(sum(col("sq")), 6).as("s2"), sum(col("cnt")).as("n2"))
          .orderBy(col("l_shipdate"))
      case 11 => // InferSetOpDistinct x TopNPushdown: UNION DISTINCT of
        // already-distinct branches with a TopN on top.
        val k = 1 + r.nextInt(8)
        val b1 = ord.select(col("o_orderstatus").as("a")).distinct()
        val b2 = li.select(col("l_returnflag").as("a")).distinct()
        b1.unionAll(b2).distinct().orderBy(col("a")).limit(k)
      case 12 => // filter against a same-table scalar aggregate
        // feeding a grouped aggregate.
        Tables.registerAll(spark, sf)
        val cmp = if (r.nextBoolean()) ">" else "<="
        spark.sql(s"""
          SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 6) AS sq
          FROM lineitem
          WHERE l_extendedprice $cmp (SELECT avg(l_extendedprice) FROM lineitem)
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      case 13 => // sum(col + k) measures over one group key
        val k = (1 + r.nextInt(20)).toLong
        li.groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity").cast("long") + lit(k)).as("s"),
            sum(col("l_suppkey").cast("long") + lit(k)).as("s2"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      case 14 => // integral aggs on BOTH join sides
        val k = pick(ordKeys)
        li.filter(col("l_quantity") > (r.nextInt(5) + 1))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col(k))
          .agg(sum(col("l_linenumber").cast("long")).as("sl"),
            sum(month(col("o_orderdate")).cast("long")).as("sr"),
            count(col("l_partkey")).as("cl"),
            round(min(col("o_totalprice")), 6).as("mnp"),
            count(lit(1)).as("n"))
          .orderBy(col(k))
      case 15 => // outer join + IS NULL anti idiom (OuterToAnti
        // territory), composed with an aggregate above; alternates the
        // trigger between the equi-key (fires) and a non-key (must not)
        val nullCol = if (r.nextBoolean()) "o_orderkey" else "o_orderdate"
        val lk = pick(liKeys)
        li.filter(col("l_quantity") > (r.nextInt(20) + 25))
          .join(ord.filter(col("o_orderkey") % (2 + r.nextInt(4)) === 0),
            col("l_orderkey") === col("o_orderkey"), "left")
          .filter(col(nullCol).isNull)
          .groupBy(col(lk))
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sl"))
          .orderBy(col(lk))
      case 16 => // HAVING on extrema (MaxMinFilter territory): fire
        // shapes (covered min/max, single or paired) and no-fire shapes
        // (count alongside, wrong direction) in one generator.
        val k = pick(liKeys)
        val thr = 500.0 + r.nextInt(2000)
        // bare min/max (no round wrapper): extrema of stored doubles
        // are exact values, and the rule matches only direct aliases
        r.nextInt(4) match {
          case 0 => li.groupBy(col(k))
            .agg(min(col("l_extendedprice")).as("mn"))
            .filter(col("mn") < thr).orderBy(col(k))
          case 1 => li.groupBy(col(k))
            .agg(max(col("l_extendedprice")).as("mx"))
            .filter(col("mx") > thr).orderBy(col(k))
          case 2 => li.groupBy(col(k))
            .agg(min(col("l_extendedprice")).as("mn"),
              max(col("l_extendedprice")).as("mx"))
            .filter(col("mn") < thr && col("mx") > thr).orderBy(col(k))
          case _ => li.groupBy(col(k)) // count present: must no-fire
            .agg(min(col("l_extendedprice")).as("mn"),
              count(lit(1)).as("n"))
            .filter(col("mn") < thr && col("n") > 1).orderBy(col(k))
        }
      case 17 => // ORDER BY rank LIMIT k over a window: k = partitions x r so the selected SET is
        // deterministic (every priority has >> r orders); the window
        // order carries a unique tiebreaker. Rotates the rank function
        // and a sum-over-window variant.
        import org.apache.spark.sql.expressions.{Window => W}
        val rr = 1 + r.nextInt(8)
        val spec = W.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val rn = r.nextInt(4) match {
          case 0 => row_number().over(spec)
          case 1 => rank().over(spec)
          case 2 => dense_rank().over(spec)
          case _ => sum(lit(1)).over(spec) // not rank-like: no-fire
        }
        ord.select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), rn.cast("int").as("rn"))
          .orderBy(col("rn")).limit(5 * rr)
      case 18 => // OrExtract over a non-equi chain join: disjunctive band
        // with an untranslatable leg ABOVE the join must not change values
        val q1 = 1 + r.nextInt(10)
        val q2 = 1 + r.nextInt(10)
        li.as("l").join(ord.as("o"),
            col("l.l_orderkey") === col("o.o_orderkey") &&
              col("l.l_shipdate") > col("o.o_orderdate"))
          .filter(
            (col("l.l_quantity") === q1.toDouble &&
              col("l.l_extendedprice") * col("l.l_discount") > lit(20.0)) ||
            (col("l.l_quantity") === q2.toDouble && col("l.l_tax") > lit(0.03)))
          .groupBy(col("l.l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("l.l_orderkey")).as("s"))
          .orderBy(col("l_returnflag"))
      case 19 => // the same chain under an outer join (preserved side
        // must keep its rows) — rotates the side so both preserved
        // polarities are exercised
        val jt = if (r.nextBoolean()) "left_outer" else "right_outer"
        li.as("l").join(ord.as("o"),
            col("l.l_orderkey") === col("o.o_orderkey") &&
              col("l.l_shipdate") > col("o.o_orderdate") &&
              col("o.o_orderdate") > lit("1997-01-01").cast("timestamp_ntz"),
            jt)
          .groupBy(col("l.l_returnflag"))
          .agg(count(col("o.o_orderkey")).as("n"), count(lit(1)).as("all"))
          .orderBy(col("l_returnflag"))
      case _ => // filtered two-level with derived outer key (composition)
        val inner = li.filter(col("l_quantity") > (r.nextInt(10) + 1))
          .groupBy(col("l_orderkey"), col("l_shipdate"))
          .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"))
        inner.groupBy(col("l_shipdate"),
            year(col("l_shipdate")).cast("long").as("y"))
          .agg(round(sum(col("sq")), 6).as("s2"), sum(col("cnt")).as("n2"))
          .orderBy(col("l_shipdate"))
    }
  }

  test("bench battery: all rules ON == all rules OFF") {
    // The composition law over the REAL headline queries (not generated
    // shapes): the default rules together must leave all 22 bench
    // results row-identical. Queries that manage their own state
    // (mv/vector/stream) are not in benchQueries.
    val bad = SparkEntry.benchQueries.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val off = withAll(on = false) { fn(spark, sf).collect().toSeq.sortBy(_.toString) }
      val on = withAll(on = true) { fn(spark, sf).collect().toSeq.sortBy(_.toString) }
      if (on == off) None else Some(s"$name diverged with the rules on")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("100 seeded query shapes: all rules ON == all rules OFF") {
    val bad = (1 to 100).flatMap { seed =>
      val off = withAll(on = false) { gen(seed).collect().toSeq }
      val on = withAll(on = true) { gen(seed).collect().toSeq }
      if (on == off) None
      else Some(s"seed $seed diverged: off=${off.take(3)} on=${on.take(3)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
