package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{TextStats, TimeSeriesQueries}

/** Block loss at the corpus-scale `localCheckpoint` sites: once the
  * blocks a frame's construction checkpointed are dropped, executing the
  * frame returns the rows it returned before, or fails naming the
  * missing checkpoint block — never a silent short or empty result. */
class BlockLossSpec extends AnyFunSuite {
  import BlockLoss._
  private val spark = TestSpark.spark

  /** Builds `make()`, drops every RDD its construction persisted, then
    * re-executes the frame. */
  private def dropAndRerun(make: () => DataFrame): Unit = {
    val expected = sortedRows(make())
    assert(expected.nonEmpty)
    val (df, ids) = newPersistentRdds(spark)(make())
    assert(ids.nonEmpty, "the construction checkpointed nothing")
    assert(sortedRows(df) == expected)
    ids.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    sameRowsOrLoud(df, expected)
  }

  test("a lost block of bigramLogprobOf's pair table fails loudly") {
    dropAndRerun(() => TextStats.bigramLogprob(Tables.documents(spark, TestSpark.Sf), "doc_id", "text"))
  }

  test("a lost block of q_tfidf's tf table fails loudly") {
    dropAndRerun(() => TextStats.qTfidf(spark, TestSpark.Sf))
  }

  test("a lost block of liftPairs' baskets fails loudly") {
    dropAndRerun(() => TimeSeriesQueries.liftPairs(
      Tables.events(spark, TestSpark.Sf), "user_id", "ts", "event_type"))
  }
}

object BlockLoss {
  /** `f`'s result, with the ids of the persistent RDDs that appeared
    * while it ran (a `localCheckpoint` registers its blocks as one). */
  def newPersistentRdds[A](spark: SparkSession)(f: => A): (A, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val a = f
    (a, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Re-reads `df` after its blocks were dropped: the read must return
    * `expected` or fail naming a missing checkpoint block
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), never a silent empty or short
    * result. */
  def sameRowsOrLoud(df: DataFrame, expected: Seq[String]): Unit =
    try assert(sortedRows(df) == expected)
    catch { case e: org.apache.spark.SparkException =>
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
        msg.contains("Checkpoint block rdd_") && msg.contains("not found"), msg)
    }
}
