package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import StreamSessionize._
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** File-source → stateful sessionize → parquet-sink pipeline with a
  * checkpoint: the stream is run twice (AvailableNow) over a growing
  * input directory, and the second run RESUMES the keyed state from
  * the checkpoint — the restart semantics an incremental production
  * pipeline depends on. */
class FileStreamSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType)))

  private def runOnce(in: String, out: String, cp: String): Unit = {
    import spark.implicits._
    val events = spark.readStream.schema(schema).json(in).as[Event]
    val q = sessionize(events)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("sessionizer closes sessions across a checkpointed restart") {
    val root = Bridge.createTempDir("graft-stream").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    // batch 1: user 1, two events 10 min apart (session stays open)
    Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      """{"user_id":1,"event_id":1,"ts":"2024-01-01T10:00:00.000Z"}
        |{"user_id":1,"event_id":2,"ts":"2024-01-01T10:10:00.000Z"}
        |""".stripMargin)
    runOnce(in, out, cp)

    // batch 2 (new process over same checkpoint): a >30 min gap event
    // closes user 1's first session using state RECOVERED from cp
    Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      """{"user_id":1,"event_id":3,"ts":"2024-01-01T11:00:00.000Z"}
        |""".stripMargin)
    runOnce(in, out, cp)

    val sessions = spark.read.parquet(out).collect()
    assert(sessions.length === 1)
    val s = sessions(0)
    assert(s.getAs[Long]("user_id") === 1L)
    assert(s.getAs[Long]("duration_ms") === 600000L)
    assert(s.getAs[Long]("hit_depth") === 2L)
    assert(!s.getAs[Boolean]("bounce"))
  }
}
