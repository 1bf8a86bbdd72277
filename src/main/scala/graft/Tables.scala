package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver's TPC-H-ish test tables
  * (/root/repo/TESTDATA.md). One call per table keeps predicate pushdown
  * and column pruning visible per query.
  */
object Tables {
  /** Where the test tables live: one `sf<scale>` directory per scale. */
  val TestDataRoot = "/root/testdata"

  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame = apply(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = apply(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = apply(s, dir, "customer")
  def part(s: SparkSession, dir: String): DataFrame = apply(s, dir, "part")
  def supplier(s: SparkSession, dir: String): DataFrame = apply(s, dir, "supplier")
  def nation(s: SparkSession, dir: String): DataFrame = apply(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = apply(s, dir, "region")
  def events(s: SparkSession, dir: String): DataFrame = apply(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = apply(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = apply(s, dir, "embeddings")
}
