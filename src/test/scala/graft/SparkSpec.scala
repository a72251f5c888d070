package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `f` and counts the Spark jobs it started. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc) // earlier work's events stay out
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` with the session confs `kvs` set, restoring each after. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Drop managed tables AND clear their warehouse directories — a
    * crashed prior run can leave the location behind with no catalog
    * entry, making the next saveAsTable refuse the CREATE. */
  def resetManagedTables(names: String*): Unit = {
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    names.foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(d)
      }
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.build("4")
}
