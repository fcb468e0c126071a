package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One Spark job seen by [[JobRecorder]]: its description (the store's
 * `store: <op> <db.table> <phase>` label, "" when unlabelled) and the
 * task count of its final stage. */
final case class SeenJob(desc: String, finalTasks: Int)

object JobRecorder {
  /** Runs `body` and returns its result with every Spark job started
   * while it ran, in start order. Listener events arrive in order, so
   * once a marker job run after `body` is seen, every job `body`
   * started has been seen too. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[SeenJob]) = {
    val sc = spark.sparkContext
    val marker = s"graft-job-recorder-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[SeenJob]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(SeenJob(
          Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse(""),
          j.stageInfos.maxBy(_.stageId).numTasks))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.asScala.exists(_.desc == marker) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(all.exists(_.desc == marker), "listener never saw the marker job")
      (out, all.takeWhile(_.desc != marker))
    } finally sc.removeSparkListener(listener)
  }
}
