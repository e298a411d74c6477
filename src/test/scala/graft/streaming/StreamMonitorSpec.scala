package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming threshold monitor: alerts fire exactly once per closed
  * window, only for users who crossed the value threshold without a
  * purchase. */
class StreamMonitorSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("ts", TimestampType)))

  test("alerts emit for no-purchase threshold crossers when the window closes") {
    val root = Bridge.createTempDir("graft-monitor").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    // user 1: 60.0 value, no purchase -> alert
    // user 2: 80.0 value but purchased -> no alert
    // user 3: 10.0 value, under threshold -> no alert
    // sentinel at 13:00 pushes the watermark past the 10:00-11:00 window
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"user_id":1,"event_type":"click","value":25.0,"ts":"2024-01-01T10:05:00.000Z"}
        |{"user_id":1,"event_type":"view","value":35.0,"ts":"2024-01-01T10:20:00.000Z"}
        |{"user_id":2,"event_type":"click","value":80.0,"ts":"2024-01-01T10:10:00.000Z"}
        |{"user_id":2,"event_type":"purchase","value":0.0,"ts":"2024-01-01T10:30:00.000Z"}
        |{"user_id":3,"event_type":"click","value":10.0,"ts":"2024-01-01T10:15:00.000Z"}
        |{"user_id":99,"event_type":"click","value":0.0,"ts":"2024-01-01T13:00:00.000Z"}
        |""".stripMargin)

    val docs = spark.readStream.schema(schema).json(in)
    val q = StreamMonitor.thresholdAlerts(docs, threshold = 50.0,
        windowLen = "1 hour", horizon = "30 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("value_sum"), r.getAs[Long]("events"))))
    assert(rows.toMap.keySet === Set(1L), s"only user 1 alerts, got ${rows.toSeq}")
    assert(rows.toMap.apply(1L) === ((60.0, 2L)))
  }
}
