package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Runs `body` with session conf `key` set to `value`, then restores it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val was = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started, and stages submitted that build a broadcast,
    * while `body` runs. */
  def events[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val broadcasts = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.scope.exists(_.name == "BroadcastExchange")))
          broadcasts.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get, broadcasts.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.session(8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
