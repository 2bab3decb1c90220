package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (SURVEY.md §5). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // 256-row columnar batches: a 4096-row batch over ~6k-token array rows is a ~100MB humongous
    // G1 allocation per task; 32 concurrent tasks fragment the old gen and every later full-table
    // decode degenerates into GC (measured: survivor-rewrite 1224 CPU-s -> 220 CPU-s)
    .config("spark.sql.parquet.columnarReaderBatchSize", "256")
    .config("spark.driver.host", "localhost")
    .getOrCreate()

  /** Run `body` with `listener` registered and return once the listener has seen every event
    * of the jobs `body` started. A sentinel job in its own group (`sentinel-…`) runs last; the
    * bus delivers events to its listeners in order, so once a barrier listener added after
    * `listener` has seen the sentinel start, `listener` has seen everything before it. The
    * listener sees the sentinel job too.
    */
  def withListener[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val reached = new java.util.concurrent.CountDownLatch(1)
    val barrier = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          reached.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(barrier)
    try {
      val out = body
      sc.setJobGroup(sentinel, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      org.scalatest.Assertions.assert(reached.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job")
      out
    } finally { sc.removeSparkListener(barrier); sc.removeSparkListener(listener) }
  }

  /** A property of every Spark job started while `body` runs (the sentinel job excluded). */
  def jobProperty(key: String)(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[(String, String)]
    withListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(prop("spark.jobGroup.id").getOrElse("") -> prop(key).getOrElse(""))
      }
    })(body)
    seen.asScala.toSeq.filterNot(_._1.startsWith("sentinel-")).map(_._2)
  }

  /** Job groups of every Spark job started while `body` runs. */
  def jobGroups(body: => Unit): Seq[String] = jobProperty("spark.jobGroup.id")(body)

  /** Run `body` with its Spark jobs in job group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, "spec job group")
    try body finally spark.sparkContext.clearJobGroup()
  }
}
