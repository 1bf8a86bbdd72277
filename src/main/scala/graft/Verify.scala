package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
import graft.ops.Checkpoints
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = Cli.main("verify" +: args)

  /** `graft.Cli verify <sfDir> <outDir> [query,...]`. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes two): a
    // comma-separated query-name filter applied to BOTH the run set and
    // the dumped oracle json, so tools/check.py sees a consistent pair
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    val failures = new scala.collection.mutable.ArrayBuffer[String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try Checkpoints.released(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += s"$name: ${e.getMessage}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/failures.txt"),
      failures.mkString("", "\n", if (failures.isEmpty) "" else "\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
