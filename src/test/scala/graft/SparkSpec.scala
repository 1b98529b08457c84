package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` and return its result with every SQL action it ran, in
    * order: (action name, e.g. "localCheckpoint" or "collect", and its
    * QueryExecution). */
  def recordActions[A](body: => A): (A, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add((funcName, qe))
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Run `body` and return its result with the number of Spark jobs it
    * started. */
  def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
