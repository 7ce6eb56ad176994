package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Dev utility (probe-only, never in the driver path): run named
  * SparkEntry queries once and print one line per Spark JOB — start
  * offset, gap since the previous job ended, duration, the name of its
  * last stage (the call site that launched it, e.g. `parquet at
  * Tables.scala:NN`) and job description — then a per-query total of
  * jobs, in-job ms (the union of the job intervals) and gap ms (the
  * rest of the wall clock: driver planning and driver-side work), so a
  * multi-job composite's wall clock is attributable to its phases
  * (optimization guide §1: decide whether time goes to a shuffle, a
  * straggler tail, or driver-paced job latency BEFORE changing code).
  * Usage: jrun.sh graft.JobProfile <query> [query...]
  */
object JobProfile {
  private final class JobLog extends SparkListener {
    case class J(start: Long, var end: Long = -1, stage: String, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, J(System.currentTimeMillis(),
        stage = e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
        desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.end = System.currentTimeMillis()
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val lst = new JobLog
    spark.sparkContext.addSparkListener(lst)
    for (name <- args) {
      Caches.releaseAll(spark)
      lst.jobs.clear()
      val t0 = System.currentTimeMillis()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      val t1 = System.currentTimeMillis()
      Thread.sleep(200) // let late job-end events land
      import scala.jdk.CollectionConverters._
      val js = lst.jobs.asScala.toSeq.sortBy(_._1)
      println(f"== $name: ${(t1 - t0) / 1e3}%.2f s, ${js.size} jobs ==")
      var prevEnd = t0
      var inJob = 0L
      for ((id, j) <- js) {
        val end = if (j.end > 0) j.end else j.start
        val gap = (j.start - prevEnd) / 1e3
        val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"  job $id%3d +${(j.start - t0) / 1e3}%7.2f gap=$gap%6.3f dur=$dur%7.3f  " +
          s"${j.stage.take(60)}${if (j.desc.isEmpty) "" else s"  [${j.desc.take(60)}]"}")
        inJob += math.max(0L, end - math.max(j.start, prevEnd))
        prevEnd = math.max(prevEnd, end)
      }
      println(s"  total $name: ${js.size} jobs, in-job ${inJob} ms, gap ${t1 - t0 - inJob} ms")
    }
    spark.stop()
  }
}
