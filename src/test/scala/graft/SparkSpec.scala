package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork=true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session alive

  /** The jobs `body` runs, each named by its result stage (Spark's call
   * site, e.g. "checkpoint at Materialize.scala:27"). A listener keeps
   * the job starts tagged with a fresh local property; a marker job
   * tagged after `body` flushes the listener bus, which delivers in
   * order. */
  def jobsOf(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val prop = "graft.test.jobs"
    val tag = UUID.randomUUID().toString
    val jobs = ArrayBuffer.empty[String]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some(`tag`) =>
            jobs.synchronized(jobs += j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
          case Some(t) if t == s"$tag/end" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      body
      sc.setLocalProperty(prop, s"$tag/end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus not flushed")
      jobs.synchronized(jobs.toList)
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
