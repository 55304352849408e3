package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Test helpers that count what a block of code costs in Spark jobs and
  * what an executed plan is made of.
  */
object SparkJobs {

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * told apart by a job group set on this thread (Spark carries it to
    * the threads a query fans out to), and the count is read only after
    * a sentinel job in a second group reached the listener: listener
    * events arrive in order, so every job of `body` has been seen by
    * then.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Every operator of an executed plan, adaptive stages unwrapped. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case p => p +: p.children.flatMap(operators)
  }
}
