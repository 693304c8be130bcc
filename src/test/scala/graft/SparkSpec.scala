package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). The PAssert analogue (reference:
  * SDK/testing/PAssert.java:263 containsInAnyOrder) is `assertRows`. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** containsInAnyOrder: compare ignoring row order (and Seq flavor);
    * delegates to the library's PAssert (graft.testing.PAssert). */
  def assertRows(df: org.apache.spark.sql.DataFrame, expected: Seq[Seq[Any]]): Unit =
    graft.testing.PAssert.containsInAnyOrder(df, expected)

  /** Fresh streaming-checkpoint dir (shared by every streaming suite). */
  def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  /** The list-collecting CombineFn the trigger/session suites aggregate
    * with (sorted output so bags compare deterministically). */
  val collectLongsFn: graft.functions.CombineFn[Long, List[Long], List[Long]] =
    new graft.functions.CombineFn[Long, List[Long], List[Long]] {
      def createAccumulator(): List[Long] = Nil
      def addInput(acc: List[Long], in: Long): List[Long] = in :: acc
      def mergeAccumulators(a: List[Long], b: List[Long]): List[Long] = a ++ b
      def extractOutput(acc: List[Long]): List[Long] = acc.sorted
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // The library's own session (state store, local filesystem, changelog
    // state commits, extensions), so the suites run on what graft ships.
    // local[4, 2]: 4 threads, task maxFailures = 2 — a task that throws
    // retries once before failing the job. Inert for every suite except
    // RetryDeterminismSpec (whose planted first-attempt failures need the
    // retry); suites that assert job failure still fail (the retried
    // attempt throws the same deterministic error).
    val s = GraftSession.builder("local[4, 2]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
