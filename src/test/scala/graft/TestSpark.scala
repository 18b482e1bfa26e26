package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder(4)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The task count of every Spark job `body` starts, in start order. The
    * listener bus is drained before and after, so the list is complete. */
  def jobTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tasks = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        tasks.add(e.stageInfos.map(_.numTasks).sum); ()
      }
    }
    org.apache.spark.grafttest.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.grafttest.ListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    tasks.asScala.toSeq
  }
}
