package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.ops.Checkpoints

/** `graft.Cli ladder <query,...> [sfDir ...]`: each named query at each
  * rung (default: the sf0.001, sf0.01 and sf0.1 test tables), measured by
  * [[Bench.runQuery]], the runner `bench` uses. Per rung it records the
  * best rep's seconds and the [[Bench.StageCounts]] of that rep (input
  * rows read, shuffle records and bytes written), plus the result's row
  * count (one untimed count). Per query it fits the log-log slope of
  * time, shuffle records, shuffle bytes and rows out against the
  * measured input rows: 1 is linear growth, 0 is flat. The fit uses
  * input rows, not the scale factor, because some tables do not grow
  * with it (`documents` has 500 rows at sf0.001 and at sf0.01).
  *
  * Stdout is JSON lines: one `rung` line per (query, rung), one `fit`
  * line per query, then a summary naming the detail file
  * `bench/ladder_c<cpus>.json`, which holds every rung and fit. */
object Ladder {
  val defaultRungs: Seq[String] = Seq("0.001", "0.01", "0.1").map(s => s"${Tables.TestDataRoot}/sf$s")

  /** Input sizes a fit needs at least this many distinct values of. */
  val MinSizes = 3

  /** The number of distinct input sizes among `xs`, where sizes less
    * than 2x apart count as one: a query reads its 500 documents at
    * sf0.001 and at sf0.01 as 1,288 and 1,270 input rows, which is one
    * size, not two. */
  def distinctSizes(xs: Seq[Double]): Int =
    xs.sorted.foldLeft(List.empty[Double]) {
      case (first :: rest, x) if x < 2 * first => first :: rest
      case (firsts, x) => x :: firsts
    }.size

  /** The least-squares slope of log y on log x, or why there is none:
    * fewer than [[MinSizes]] distinct x ([[distinctSizes]]), or an x or
    * y that is not positive (a metric that is 0 at some rung, such as
    * the shuffle of a query that does not shuffle). */
  def fit(points: Seq[(Double, Double)]): Either[String, Double] =
    if (distinctSizes(points.map(_._1)) < MinSizes)
      Left(s"fewer than $MinSizes distinct input sizes")
    else if (points.exists { case (x, y) => !(x > 0 && y > 0) })
      Left("a value is not positive")
    else {
      val lx = points.map(p => math.log(p._1))
      val ly = points.map(p => math.log(p._2))
      val (mx, my) = (lx.sum / lx.size, ly.sum / ly.size)
      val sxy = lx.zip(ly).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = lx.map(x => (x - mx) * (x - mx)).sum
      Right(sxy / sxx)
    }

  private final case class Rung(query: String, dir: String, secs: Seq[Option[Double]],
      counts: Option[Bench.StageCounts], rowsOut: Long)

  private def q(s: String): String = "\"" + s + "\""
  private def num(v: Double): String = (math.rint(v * 1000.0) / 1000.0).toString
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def rungJson(r: Rung): String = {
    val reps = arr(r.secs.map(_.fold("-1.0")(num)))
    val fields = r.counts.fold(Seq("\"failed\":true")) { c =>
      Seq(s"\"input_rows\":${c.inputRecords}", s"\"sec\":${num(r.secs.flatten.min)}",
        s"\"shuffle_records\":${c.shuffleRecords}", s"\"shuffle_bytes\":${c.shuffleBytes}",
        s"\"rows_out\":${r.rowsOut}")
    }
    (Seq("\"ladder\":\"rung\"", s"\"query\":${q(r.query)}", s"\"sf_dir\":${q(r.dir)}") ++
      fields :+ s"\"reps\":$reps").mkString("{", ",", "}")
  }

  /** The `fit` line of one query over its rungs that ran, and whether
    * it was fitted: a query with fewer than [[MinSizes]] distinct input
    * sizes, or none measured at some rung, is flagged instead. */
  private def fitJson(query: String, rungs: Seq[Rung]): (String, Boolean) = {
    val ok = rungs.flatMap(r => r.counts.map(c => (r, c)))
    val x = ok.map(_._2.inputRecords.toDouble)
    val flag =
      if (distinctSizes(x) < MinSizes) Some(s"fewer than $MinSizes distinct input sizes")
      else if (x.exists(_ <= 0)) Some("no input rows measured at some rung")
      else None
    val metrics = Seq[(String, (Rung, Bench.StageCounts) => Double)](
      "sec" -> ((r, _) => r.secs.flatten.min),
      "shuffle_records" -> ((_, c) => c.shuffleRecords.toDouble),
      "shuffle_bytes" -> ((_, c) => c.shuffleBytes.toDouble),
      "rows_out" -> ((r, _) => r.rowsOut.toDouble))
    val fits = if (flag.isDefined) Nil
      else metrics.map { case (name, f) => name -> fit(x.zip(ok.map(f.tupled))) }
    val fields = fits.map { case (name, e) => s"\"slope_$name\":${e.fold(_ => "null", num)}" } ++
      fits.collect { case (name, Left(why)) => s"\"why_$name\":${q(why)}" }
    val failed = rungs.size - ok.size
    val json = (Seq("\"ladder\":\"fit\"", s"\"query\":${q(query)}",
      s"\"input_rows\":${arr(ok.map(_._2.inputRecords.toString))}") ++ fields ++
      Seq(s"\"failed_rungs\":$failed", s"\"flag\":${flag.fold("null")(q)}")).mkString("{", ",", "}")
    (json, flag.isEmpty)
  }

  def run(spark: SparkSession, names: Seq[String], dirs: Seq[String]): Unit = {
    val reps = Bench.reps
    Bench.warmUp(spark)
    var failures = 0
    val perQuery = names.map { name =>
      val fn = SparkEntry.queries(name)
      val rungs = dirs.map { dir =>
        val r = Bench.runQuery(spark, "ladder", name, fn, dir, reps)
        failures += r.secs.count(_.isEmpty)
        val rows =
          try if (r.fastest.isEmpty) -1L else Checkpoints.released(spark)(fn(spark, dir).count())
          catch { case NonFatal(e) => System.err.println(s"[ladder] $name count: $e"); -1L }
        val rung = Rung(name, dir, r.secs, r.fastest, rows)
        println(rungJson(rung))
        rung
      }
      val (line, fitted) = fitJson(name, rungs)
      println(line)
      (rungs, line, fitted)
    }
    val cpus = spark.sparkContext.defaultParallelism
    val detail = s"""{"cpus":$cpus,"reps":$reps,"rungs":[""" +
      perQuery.flatMap(_._1).map(rungJson).mkString("\n", ",\n", "\n") + "],\"fits\":[" +
      perQuery.map(_._2).mkString("\n", ",\n", "\n") + "]}"
    val file = Bench.writeDetail(s"ladder_c$cpus.json", detail)
    val fitted = perQuery.count(_._3)
    println(s"""{"ladder_file":"$file","cpus":$cpus,"reps":$reps,"queries":${names.size},"rungs":${dirs.size},"fitted":$fitted,"flagged":${names.size - fitted},"failures":$failures}""")
  }
}
