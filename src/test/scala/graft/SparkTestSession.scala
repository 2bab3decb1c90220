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

  /** Job groups of every Spark job started while `body` runs. A sentinel job in its own group
    * runs last: the listener sees job starts in order, so once it has seen the sentinel it has
    * seen every job `body` started.
    */
  def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      org.scalatest.Assertions.assert(seen.contains(sentinel), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filterNot(_ == sentinel)
  }

  /** Run `body` with its Spark jobs in job group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, "spec job group")
    try body finally spark.sparkContext.clearJobGroup()
  }
}
