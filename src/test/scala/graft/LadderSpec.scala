package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Cli ladder`: the log-log slope fit, and one run end to end. */
class LadderSpec extends AnyFunSuite {
  test("slope fit: 1 on y = c*x, 0 on constant y, flagged below 3 input sizes") {
    val xs = Seq(500.0, 5000.0, 50000.0, 500000.0)
    val linear = Ladder.fit(xs.map(x => (x, 3.5 * x)))
    assert(linear.exists(s => math.abs(s - 1.0) < 1e-12), linear)
    val flat = Ladder.fit(xs.map(x => (x, 7.0)))
    assert(flat.exists(s => math.abs(s) < 1e-12), flat)
    // a repeated size is one size: 500 rows at sf0.001 and at sf0.01,
    // and so are sizes less than 2x apart
    assert(Ladder.fit(Seq((500.0, 1.0), (500.0, 2.0), (5000.0, 3.0))).isLeft)
    assert(Ladder.fit(Seq((1288.0, 1.0), (1270.0, 2.0), (12756.0, 3.0))).isLeft)
    assert(Ladder.distinctSizes(Seq(1288.0, 1270.0, 12756.0, 127000.0)) == 3)
    assert(Ladder.fit(Seq((500.0, 1.0), (5000.0, 2.0))).isLeft)
    assert(Ladder.fit(xs.map(x => (x, 0.0))).isLeft, "log of 0 is no slope")
    assert(Ladder.fit(xs.zip(Seq(1.0, 2.0, 4.0, 8.0))).isRight)
  }

  test("ladder over two rungs exits 0 and prints only JSON lines") {
    val spark = SparkTestSession.get
    val detail = Paths.get(s"bench/ladder_c${spark.sparkContext.defaultParallelism}.json")
    val before = if (Files.exists(detail)) Some(Files.readAllBytes(detail)) else None
    val out = new java.io.ByteArrayOutputStream
    val code =
      try Console.withOut(out)(Cli.run(Seq("ladder", "hist1d_regular",
        s"${Tables.TestDataRoot}/sf0.001", s"${Tables.TestDataRoot}/sf0.01")))
      finally {
        // the detail file and the session's confs are left as they were
        before.fold(Files.deleteIfExists(detail): Any)(Files.write(detail, _))
        GraftSession.localConfs(4).foreach { case (k, v) =>
          if (spark.conf.get(k) != v) spark.conf.set(k, v)
        }
      }
    assert(code == 0)
    val mapper = new ObjectMapper
    val lines = out.toString("UTF-8").split("\n").filter(_.nonEmpty).map(mapper.readTree)
    assert(lines.count(_.path("ladder").asText == "rung") == 2)
    lines.filter(_.path("ladder").asText == "rung").foreach { r =>
      assert(r.path("input_rows").asLong > 0 && r.path("rows_out").asLong > 0, r)
    }
    val fit = lines.find(_.path("ladder").asText == "fit").get
    assert(fit.path("flag").asText == s"fewer than ${Ladder.MinSizes} distinct input sizes")
    assert(lines.last.path("flagged").asInt == 1 && lines.last.path("failures").asInt == 0)
  }
}
