package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session per JVM for all suites (reference pattern:
  * src/test/scala/io/opentargets/etl/backend/SparkSessionSetup.scala).
  */
trait SparkSessionSetup {
  lazy val spark: SparkSession = SparkSessionSetup.shared
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started by `body`, counted between two marker jobs: the
    * listener bus delivers events in order, so every job started
    * between the markers' starts belongs to `body` (suites run one at
    * a time in the forked test JVM).
    */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (groups.synchronized(!groups.contains(name)) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobcount-before")
      body
      marker("jobcount-after")
      groups.synchronized {
        groups.indexOf("jobcount-after") - groups.indexOf("jobcount-before") - 1
      }
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSessionSetup {
  lazy val shared: SparkSession = graft.core.Session.build(
    appName = "graft-test",
    master = Some("local[4]"),
    extraConf = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      // static conf: table specs (bucketing tests) land in a temp dir
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    )
  )
}
