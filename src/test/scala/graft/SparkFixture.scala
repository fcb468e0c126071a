package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites — mirrors the reference's pytest
 * fixture (tests/fixtures/spark_session.py: local master, UTC,
 * case-insensitive). */
object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  val RefData = "/root/reference/tests/data/dummy"

  /** `rel` under [[RefData]], the reference checkout's dummy fixtures,
   * which this repository does not ship (FIXTURES.md). Every fixture
   * read goes through here, so without the checkout a spec fails at
   * once with one line instead of deep inside a Spark job. */
  def refData(rel: String = ""): String = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefData)))
      throw new org.scalatest.exceptions.TestFailedException(
        s"reference fixtures missing: no checkout at $RefData " +
          "(see FIXTURES.md)", 0)
    if (rel.isEmpty) RefData else s"$RefData/$rel"
  }

  /** Every message down a throwable's cause chain, joined — deferred
   * errors (raise_error inside a fold, a failed stream) surface wrapped
   * in SparkException layers, so asserting on the top message misses. */
  def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString("\n")

  /** Collect over an EXECUTED plan including adaptive query stages —
   * `QueryStageExec` wraps its subtree as a leaf, so a plain
   * `plan.collect` misses everything inside a finished stage. Every
   * plan-shape pin that walks real plan nodes goes through this ONE
   * helper, so the next AQE node-shape change has a single home. */
  def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = f.lift(p).toSeq
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(deepCollect(_)(f))
  }
}
