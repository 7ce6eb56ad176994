package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object SparkSuite {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  /** Smallest driver-generated corpus — used where an operator's
    * signature takes a testdata dir. */
  val sfDir = "/root/testdata/sf0.001"

  /** An `events.parquet` of `(event_id, ts, user_id, event_type, value,
    * props)` rows in a fresh dir; `ts` is 'yyyy-MM-dd HH:mm:ss' text in
    * the session time zone. */
  def eventsDir(rows: Seq[(Long, String, Long, Option[String], Option[Double], String)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** The number of Spark jobs `body` starts, counted by a listener on
    * the jobs of a fresh job group. */
  def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def inGroup(group: String)(b: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try b finally sc.clearJobGroup()
    }
    val id = java.util.UUID.randomUUID()
    val (group, marker) = (s"jobs-$id", s"drain-$id")
    val n = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) n.incrementAndGet()
          if (g == marker) drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      // the listener bus is ordered: once it delivers the marker job,
      // it has delivered every job before it
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      n.get
    } finally sc.removeSparkListener(listener)
  }
}
