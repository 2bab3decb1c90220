package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.SparkTestSession
import graft.TempDirs

final case class Click(user_id: Long, ts: java.sql.Timestamp, value: Double)
final case class SessionAgg(user_id: Long, clicks: Long, total: Double)

/** Custom streaming state via flatMapGroupsWithState: per-user session aggregation driven by a
  * file-source micro-batch stream (the KeyValueGroupedDataset state-store path the engine exposes
  * for streaming pipelines).
  */
class StatefulStreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("flatMapGroupsWithState per-user aggregation over a micro-batched stream") {
    import spark.implicits._
    val dir = tempDir("stateful-").toString
    // stage events testdata as the stream input
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("ts"), col("value"))
      .write.parquet(s"$dir/in")

    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .as[Click]

    def update(uid: Long, rows: Iterator[Click], state: GroupState[SessionAgg]): Iterator[SessionAgg] = {
      val prev = state.getOption.getOrElse(SessionAgg(uid, 0L, 0.0))
      val batch = rows.toSeq
      val next = SessionAgg(uid, prev.clicks + batch.size, prev.total + batch.map(_.value).sum)
      state.update(next)
      Iterator(next)
    }

    val q = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      .writeStream.format("memory").queryName("sessions").outputMode("update").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sessions")
      .groupBy("user_id").agg(max("clicks").as("clicks"), max("total").as("total"))
    val want = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("clicks"), sum("value").as("total"))
    val joined = got.join(want, Seq("user_id"))
    assert(joined.count() === want.count())
    assert(joined.filter(got("clicks") =!= want("clicks")).count() === 0)
  }
}
