package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every entry point runs the one session [[GraftSession.local]] builds:
  * the test session carries its confs, no other code builds a session,
  * `graft.Cli` is the only command line, and the soaks and ladder
  * queries the docs cite resolve in its soak table and the registry.
  */
class GraftSessionSpec extends AnyFunSuite {
  test("library session defaults are applied to the shared session") {
    val spark = SparkTestSession.get
    GraftSession.confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"session default $k not applied")
    }
  }

  test("cached-plan AQE repartitioning is a declared default") {
    assert(GraftSession.confs.toMap
      .get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
      .contains("true"))
  }

  test("the test session carries every conf GraftSession.local sets") {
    val spark = SparkTestSession.get
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.localConfs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  private def files(root: String, ext: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(ext)).toList
    finally walk.close()
  }

  private def filesContaining(root: String, needle: String): Set[String] =
    files(root, ".scala").filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet

  test("only GraftSession builds a session; only Cli, Bench and Verify have a main") {
    // assembled, so this file does not match its own scan
    val builder = "SparkSession" + ".builder()"
    assert(filesContaining("src", builder) == Set("GraftSession.scala"))
    assert(filesContaining("src/main/scala", "def " + "main(") ==
      Set("Cli.scala", "Bench.scala", "Verify.scala"))
  }

  test("every graft.Cli command the docs cite resolves") {
    val docs = Seq(Paths.get("SCALE.md"), Paths.get("COVERAGE.md")) ++ files("docs", ".md")
    val cite = """graft\.Cli ([\w-]+)(?: ([\w-]+))?""".r
    val cited = docs.flatMap(p => cite.findAllMatchIn(Files.readString(p))
      .map(m => (p.getFileName.toString, m.group(1), Option(m.group(2)))))
    assert(cited.exists(_._2 == "soak"), "no soak citation found")
    cited.foreach { case (file, mode, arg) =>
      assert(Cli.modeNames.contains(mode), s"$file cites unknown mode $mode")
      if (mode == "soak") // `<name>` placeholders have no arg
        assert(arg.forall(Examples.soaks.map(_.name).contains), s"$file cites unknown soak $arg")
    }
    // every query of a `graft.Cli ladder q1,q2,...` citation is registered
    val ladder = """graft\.Cli ladder ([\w,]+)""".r
    val laddered = docs.flatMap(p => ladder.findAllMatchIn(Files.readString(p))
      .flatMap(_.group(1).split(",")).map(q => (p.getFileName.toString, q)))
    assert(laddered.nonEmpty, "no ladder citation found")
    laddered.foreach { case (file, q) =>
      assert(SparkEntry.queries.contains(q), s"$file cites unknown ladder query $q")
    }
  }

  test("a bad mode or argument exits non-zero with the mode list") {
    def run(args: String*): (Int, String) = {
      val err = new java.io.ByteArrayOutputStream
      val code = Console.withErr(err)(Cli.run(args))
      (code, err.toString("UTF-8"))
    }
    for (args <- Seq(Seq("no-such-mode"), Seq(), Seq("soak", "no-such-soak"),
        Seq("verify"), Seq("ladder"), Seq("ladder", "hist1d_regular,no_such_query"))) {
      val (code, out) = run(args: _*)
      assert(code != 0, s"$args")
      Cli.modeNames.foreach(m => assert(out.contains(s"  $m"), s"$args: $m missing"))
    }
    assert(run("soak", "no-such-soak")._2.contains("soak-quantile"))
    assert(run("ladder", "no_such_query")._2.contains("unknown query no_such_query"))
  }
}
