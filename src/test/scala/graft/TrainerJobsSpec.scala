package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{BpeOps, TrainOps}

/** Jobs per training call, pinned: the merge trainers share one round
  * loop and the classifier trainer one gradient loop, and neither may
  * grow a job per round unnoticed. */
class TrainerJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  /** 40 distinct random words over a 6-letter alphabet: far more pairs
    * than the merges below consume, so no trainer runs out early. */
  private def corpus = {
    val rnd = new scala.util.Random(13)
    val words = Seq.fill(40)(
      Seq.fill(2 + rnd.nextInt(5))(('a' + rnd.nextInt(6)).toChar).mkString)
    Seq((0L, Seq.fill(300)(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("sequential BPE and WordPiece: pinned jobs for 6 merges") {
    val docs = corpus
    val (bpe, bpeJobs) = JobCounts.of(spark)(BpeOps.train(docs, 6))
    val (wp, wpJobs) = JobCounts.of(spark)(BpeOps.trainWordpiece(docs, 6))
    assert(bpe.size == 6 && wp.size == 6)
    // per round: the ranked relation's exchanges (AQE map stages) and
    // the top-K collect; the first round also materializes the
    // dictionary. No vocabulary collect in the sequential trainers.
    assert(bpeJobs == 13, s"train: $bpeJobs jobs")
    assert(wpJobs == 25, s"trainWordpiece: $wpJobs jobs")
  }

  test("trainLr: pinned jobs for 4 rounds") {
    val rng = new scala.util.Random(3)
    val docs = (0 until 200).map { i =>
      val w = if (i % 2 == 0) Seq("good", "clear") else Seq("spam", "click")
      (i.toLong, Seq.fill(8)(w(rng.nextInt(2))).mkString(" "), (i % 2).toLong)
    }.toDF("doc_id", "text", "y")
    val (wq, jobs) = JobCounts.of(spark)(
      TrainOps.trainLr(docs, col("y"), 16, 4, 10L, 1L))
    assert(wq.length == 17)
    // the feature build, then one gradient aggregate per round, which
    // also yields the feature mass F the update divides by
    assert(jobs == 11, s"trainLr: $jobs jobs")
  }
}
