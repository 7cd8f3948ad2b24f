package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, ScalaTest
  * runs suites sequentially in one forked JVM per `build.sbt`). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  protected def spark: SparkSession = SparkSpec.spark
  protected def sf: String = SparkSpec.sf

  /** `body`'s result and the call sites ("take at X.scala:12") of the
    * Spark jobs started while it ran, collected between two one-task
    * marker jobs. The listener bus delivers events in order, so once the
    * closing marker's start has arrived every job started before it has
    * been seen. */
  protected def jobsDuring[T](body: => T): (T, Vector[String]) = {
    val sc = spark.sparkContext
    val tag = "jobs-during-" + java.util.UUID.randomUUID()
    val desc = "spark.job.description" // what setJobDescription sets
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty(desc)))
          .getOrElse(e.stageInfos.headOption.fold("")(_.name)))
    }
    def marker(name: String): Unit = {
      val prev = sc.getLocalProperty(desc)
      sc.setJobDescription(s"$tag-$name")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      val seen = Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map(d => { assert(d != null, "closing marker job never reported"); d })
        .takeWhile(_ != s"$tag-close").toVector
      (out, seen.dropWhile(_ != s"$tag-open").drop(1))
    } finally sc.removeSparkListener(listener)
  }
}
