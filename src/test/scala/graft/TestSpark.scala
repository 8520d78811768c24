package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it starts: the body runs in a job
    * group of its own, and a fence job in a second group runs after it. One
    * listener sees its events in post order, so once it has seen the fence
    * job start it has seen every job of the body. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, fence) = (s"jobs-$id", s"fence-$id")
    val jobs = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[U](g: String)(f: => U): U = {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try f finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(fence)(sc.parallelize(Seq(1), 1).count())
      if (!fenced.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("listener fence timed out")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
