package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def sf0001 = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, then restore the previous values. */
  def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with expressions compiled only: no interpreted factory
    * and no fallback, so generated code that does not compile fails the
    * test instead of logging an error and running interpreted. Feed such
    * a test from an RDD (`sparkContext.parallelize(...).toDF`), not a
    * local relation: the optimizer evaluates projections over local rows
    * itself and never reaches the generated code. */
  def codegenOnly(body: => Unit): Unit =
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(body)

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
