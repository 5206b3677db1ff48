package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Entry-point audit: `GraftSession.local` is the one session factory
  * and the only mains are Bench and Verify, the two gates and the three
  * dev aids listed below. A source scan (as in RegistryShadowSpec)
  * fails here when a hand-built session or a new probe main creeps
  * back. */
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

  test("a GraftSession.local session resolves window_funnel_3d without install") {
    // window_funnel_3d is registered only by FunctionRegistry.registerAll.
    // With the shared test session parked, local builds a fresh session
    // on the running SparkContext whose registry nothing has touched yet.
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.local(4)
      assert(s ne shared)
      val lvl = s.sql("SELECT window_funnel_3d(t, m) AS lvl " +
        "FROM VALUES (0L, 1), (10L, 2), (20L, 4) AS v(t, m)").head().getInt(0)
      assert(lvl == 3)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("a failed SQL-bodied registration fails the session build, naming it") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.FunctionRegistry.registerSql(TestSpark.spark, "spec", Seq(
        "CREATE OR REPLACE TEMPORARY FUNCTION ep_ok() RETURNS INT RETURN 1",
        "CREATE OR REPLACE TEMPORARY FUNCTION ep_broken() RETURNS INT " +
          "RETURN ep_no_such_function()"))
    }
    assert(e.getMessage.contains("ep_broken") && !e.getMessage.contains("ep_ok"))
  }
}
