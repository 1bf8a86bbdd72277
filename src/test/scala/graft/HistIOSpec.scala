package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.hist._

/** Sink round-trip: filled histogram + spec → parquet → back. */
class HistIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"histio_$tag").toString

  test("numeric spec + filled rows round-trip exactly") {
    val spec = HistSpec(
      Seq(Regular(4, 0.0, 2.0, "x"),
        Variable(Seq(0.0, 0.5, 1.0), "y", upperInclusive = true)),
      WeightStorage, Map("title" -> "demo", "run" -> "7"))
    val df = Seq((0.3, 0.2, 2.0), (1.7, 0.9, 1.0), (5.0, -1.0, 3.0))
      .toDF("x", "y", "w")
    val h = Hist.fill(spec, df, Seq(col("x"), col("y")),
      weight = Some(col("w")))
    val path = tmp("num")
    HistIO.write(spec, h, path)
    val (spec2, h2) = HistIO.read(spark, path)
    assert(spec2 == spec)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(h2.collect().map(key).sortBy(_.toString).toSeq ==
      h.collect().map(key).sortBy(_.toString).toSeq)
  }

  test("categorical + integer spec round-trips (incl. fixed categories)") {
    val spec = HistSpec(
      Seq(StrCategory(Seq("a", "b"), growth = false, name = "cat"),
        IntegerAxis(-2L, 3L, "k"), BooleanAxis("flag"),
        IntCategory(Seq(10L, 20L), growth = false),
        RegularLog(3, 1.0, 1000.0), RegularCircular(6, 0.0, 360.0)),
      Int64Storage)
    val path = tmp("cat")
    HistIO.write(spec, spec.empty(spark), path)
    val (spec2, h2) = HistIO.read(spark, path)
    assert(spec2 == spec)
    assert(h2.count() == 0L)
    assert(h2.schema == StructType(spec.empty(spark).schema.map(_.copy(nullable = true))))
  }

  test("shifted-moment storages round-trip with their shift parameter") {
    import org.apache.spark.sql.functions._
    for (spec <- Seq(
      HistSpec(Seq(Regular(4, 0.0, 4.0)), ShiftedMeanStorage(1234.5)),
      HistSpec(Seq(Regular(4, 0.0, 4.0)), ShiftedWeightedMeanStorage(-7.25)))) {
      val df = Seq((0.5, 1240.0), (1.5, 1230.0)).toDF("x", "s")
      val h = Hist.fill(spec, df, Seq(col("x")), sample = Some(col("s")))
      val path = tmp("shifted")
      HistIO.write(spec, h, path)
      val (spec2, h2) = HistIO.read(spark, path)
      assert(spec2 == spec) // shift survives the sidecar
      assert(h2.count() == h.count())
    }
  }
}
