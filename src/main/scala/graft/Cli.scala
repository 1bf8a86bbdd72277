package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one command line, `graft.Cli <mode> [args]` (modes and env vars:
  * docs/USAGE.md "Running"). Arguments are checked first; then one
  * [[GraftSession.local]] session runs the mode and is stopped, unless it
  * was running before. A bad mode or argument exits 2 with the mode list,
  * a failed mode 1. */
object Cli {
  /** `parse` checks the mode's arguments and returns its work. */
  private final case class Mode(name: String, usage: String,
      parse: Seq[String] => SparkSession => Unit)

  /** `SPARK_GRAFT_SF_DIR`, else the test tables at `scale`. */
  private[graft] def sfDir(scale: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${Tables.TestDataRoot}/sf$scale")

  private def known(name: String): String =
    if (SparkEntry.queries.contains(name)) name
    else throw new IllegalArgumentException(s"unknown query $name")

  private val modes: Seq[Mode] = Seq(
    Mode("bench", "[query,...]", args => Bench.run(_, args)),
    Mode("ladder", "<query,...> [sfDir ...]", args => {
      require(args.nonEmpty, "ladder needs <query,...>")
      val names = args.head.split(",").toSeq.map(known)
      Ladder.run(_, names, if (args.size > 1) args.tail else Ladder.defaultRungs)
    }),
    Mode("verify", "<sfDir> <outDir> [query,...]", args => {
      require(args.size >= 2, "verify needs <sfDir> <outDir>")
      Verify.run(_, args)
    }),
    Mode("smoke", "", _ => smoke),
    Mode("explain", "[query ...]", args => {
      val names = if (args.nonEmpty) args.map(known) else SparkEntry.queries.keys.toSeq.sorted
      explain(_, names, sfDir("0.01"))
    }),
    Mode("profile", "<query> [iters]", args => {
      require(args.nonEmpty, "profile needs <query>")
      profile(_, known(args.head), args.lift(1).fold(3)(_.toInt), sfDir("0.1"))
    }),
    Mode("freeze-pca", "[sfDir]", args =>
      freezePca(_, args.headOption.getOrElse(s"${Tables.TestDataRoot}/sf0.01"))),
    Mode("recall-sweep", "", _ => recallSweep(_, sfDir("0.001"))),
    Mode("soak", "<name> [sizes] [args]", args => {
      val row = args.headOption.flatMap(n => Examples.soaks.find(_.name == n))
        .getOrElse(throw new IllegalArgumentException(
          "soak names: " + Examples.soaks.map(_.name).mkString(" ")))
      row.run(_, args.lift(1).getOrElse(row.sizes), args.drop(2))
    }))

  val modeNames: Seq[String] = modes.map(_.name)

  private def usage: String = modes.map(m => s"  ${m.name} ${m.usage}".stripTrailing)
    .mkString("usage: graft.Cli <mode> [args]\nmodes:\n", "\n", "")

  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq)
    if (code != 0) sys.exit(code)
  }

  /** Runs one mode and returns the process exit code. */
  def run(args: Seq[String]): Int = {
    val work = args.headOption.flatMap(n => modes.find(_.name == n)) match {
      case None => Left(s"unknown mode: ${args.headOption.getOrElse("(none)")}")
      case Some(m) =>
        try Right(m.parse(args.tail))
        catch { case NonFatal(e) => Left(s"${m.name}: ${e.getMessage}") }
    }
    work match {
      case Left(msg) =>
        Console.err.println(msg)
        Console.err.println(usage)
        2
      case Right(body) =>
        // a session that was already running (an embedding JVM, a test
        // suite) is its owner's to stop
        val owned = SparkSession.getDefaultSession.isEmpty
        val spark = GraftSession.local(GraftSession.cpus)
        try { body(spark); 0 }
        catch { case NonFatal(e) =>
          Console.err.println(s"[cli] ${args.head} failed: $e")
          e.printStackTrace()
          1
        } finally if (owned) spark.stop()
    }
  }

  /** Smoke check: the flagship query `SparkEntry.entry` returns rows. */
  private def smoke(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5)
    println(s"entry rows=$n ${if (n > 0) "OK" else "EMPTY!"}")
  }

  /** Prints the formatted physical plan of each named query: pushed
    * filters, pruned ReadSchema, whole-stage codegen spans, one shuffle
    * per aggregation. */
  private def explain(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }

  /** Runs one query `iters` times in a warm JVM and prints each
    * iteration's wall-clock, separating plan/codegen warm-up from the
    * steady-state cost. */
  private def profile(spark: SparkSession, name: String, iters: Int, dir: String): Unit = {
    // absorb session/first-job overhead so iter-1 isolates THIS query's
    // cold cost (codegen + JIT + work)
    val t = System.nanoTime()
    SparkEntry.queries("hist1d_regular")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    println(f"[profile] warmup(hist1d_regular): ${(System.nanoTime() - t) / 1e9}%.2f s")
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"[profile] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Reproduces the frozen PCA literals of the `emb_pca_project` query:
    * trains [[graft.ops.SimilarityOps.pcaModel]] on the dir's embeddings
    * and prints mean, top-2 components and eigenvalues as full-precision
    * doubles. A PCA is trained once and applied to every later snapshot
    * (the frozen-tokenizer discipline), which is also what lets the
    * DuckDB oracle replay the projection with the identical literals. */
  private def freezePca(spark: SparkSession, dir: String): Unit = {
    val (mean, eig, rot) =
      ops.SimilarityOps.pcaModel(spark.read.parquet(s"$dir/embeddings.parquet"))
    println("MEAN=" + mean.mkString(","))
    println("EV0=" + rot(0).mkString(","))
    println("EV1=" + rot(1).mkString(","))
    println("EIG=" + eig.take(4).mkString(","))
  }

  /** ANN recall vs brute force across the tuning grid, the source of
    * docs/ANN_TUNING.md's sizing table.
    *
    * Hyperplane-LSH theory anchor: two vectors at angle θ agree on one
    * signature bit with p = 1 - θ/π, so a query collides with a neighbor
    * in at least one of b bands of r bits with P = 1 - (1 - p^r)^b. More
    * bands → higher recall & more candidates; more rows/band → sharper
    * filter. IVF: nprobe/nCentroids is the fraction of space searched. */
  private def recallSweep(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    import ops.SimilarityOps
    val emb = Tables.embeddings(spark, dir).cache()
    val nCorpus = emb.count()
    val q = emb.filter($"vec_id" < 50)
    val k = 10
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilarityOps.bruteForceTopK(q, emb, k))
    def recallOf(p: Set[(Long, Long)]): Double =
      math.rint(1000.0 * (brute & p).size / brute.size) / 1000.0
    println(s"corpus=$nCorpus queries=50 k=$k (sf=$dir)")
    println("| lsh bands | rows/band | recall@10 |")
    for (bands <- Seq(8, 16, 32); rpb <- Seq(4, 8)) {
      val ann = pairs(SimilarityOps.annTopK(q, emb, dim = 64, k = k,
        bands = bands, rowsPerBand = rpb))
      println(s"| $bands | $rpb | ${recallOf(ann)} |")
    }
    println("| ivf nCentroids | nprobe | recall@10 |")
    for (nc <- Seq(16, 64); np <- Seq(1, 2, 4, 8, 16) if np <= nc) {
      val ivf = pairs(SimilarityOps.ivfTopK(q, emb, dim = 64, k = k,
        nCentroids = nc, nprobe = np))
      println(s"| $nc | $np | ${recallOf(ivf)} |")
    }
  }
}
