package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Entry-point audit: `GraftSession.local` is the one session factory
  * and the only mains are Bench and Verify, the two gates and the three
  * dev aids listed below. A source scan fails here when a hand-built
  * session or a new probe main creeps back. Both doors into the engine,
  * `GraftExtensions` and `GraftSession.install`, give a session the
  * whole function surface. */
class EntryPointSpec extends AnyFunSuite {

  private val keptMains = Seq("Bench", "Verify", "ScaleProbe", "SpillProbe",
    "ExplainMain", "CountCaps", "ListFns").map(m => s"graft/$m.scala").sorted

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected $root under the repo root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString -> Files.readString(p))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val builders = mainSources.collect {
      case (f, src) if src.contains("SparkSession.builder") => f
    }
    assert(builders == Seq("graft/GraftSession.scala"))
  }

  test("only the kept mains define an entry point") {
    val mainPat = """def main\s*\(|extends\s+App\b""".r
    val mains = mainSources.collect {
      case (f, src) if mainPat.findFirstIn(src).nonEmpty => f
    }.sorted
    assert(mains == keptMains)
  }

  /** Runs `body` with the shared test session parked, so a session built
    * inside it is fresh (on the running SparkContext) and its registry
    * holds only what its own construction put there. */
  private def withFreshSessions(body: => Unit): Unit = {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** window_funnel_3d is a JVM UDAF, days_add a SQL-bodied function and
    * murmur_hash3_32 a native builder: one of each registration kind. */
  private def assertGraftSurface(s: SparkSession): Unit = {
    val lvl = s.sql("SELECT window_funnel_3d(t, m) AS lvl " +
      "FROM VALUES (0L, 1), (10L, 2), (20L, 4) AS v(t, m)").head().getInt(0)
    assert(lvl == 3)
    val r = s.sql("SELECT days_add(TIMESTAMP '2020-02-28 00:00:00', 2) AS d, " +
      "murmur_hash3_32('hello') AS h").head()
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2020-03-01 00:00:00"))
    assert(r.getInt(1) == 1321743225)
  }

  test("a GraftSession.local session resolves window_funnel_3d without install") {
    withFreshSessions {
      val s = GraftSession.local(4)
      assert(s ne TestSpark.spark)
      assertGraftSurface(s)
    }
  }

  test("a session built with GraftExtensions alone has the whole function surface") {
    withFreshSessions {
      val s = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(s ne TestSpark.spark)
      assertGraftSurface(s)
    }
  }

  test("GraftSession.install gives a plain session the whole function surface") {
    withFreshSessions {
      val s = SparkSession.builder().getOrCreate()
      assert(s ne TestSpark.spark)
      assert(!s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("window_funnel_3d")))
      GraftSession.install(s)
      assertGraftSurface(s)
      // the reviewed override replaces the builtin here too
      assert(s.sql("SELECT bitmap_count(to_bitmap(42L))").head().getLong(0) == 1L)
    }
  }

  test("a call with the wrong argument count fails with Spark's WRONG_NUM_ARGS") {
    for (q <- Seq("SELECT hll_hash('a', 'b')", "SELECT days_add(TIMESTAMP '2020-01-01 00:00:00')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](TestSpark.spark.sql(q))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), q)
    }
  }

  test("a failed SQL-bodied registration fails the session build, naming it") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.FunctionRegistry.sqlFunctions(Seq(
        "ep_ok() RETURNS INT RETURN 1",
        "ep_broken() RETURNS INT RETURN 1 +"))
    }
    assert(e.getMessage.contains("ep_broken") && !e.getMessage.contains("ep_ok"))
  }

  test("SPARK_GRAFT_CONF text: empty segments skipped, a malformed entry fails naming it") {
    assert(GraftSession.parseConf(" a = 1;;b=x=y; ;c=") ==
      Seq("a" -> "1", "b" -> "x=y", "c" -> ""))
    for (bad <- Seq("spark.sql.shuffle.partitions", "=8")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseConf(s"spark.x=1;$bad;spark.y=2"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
