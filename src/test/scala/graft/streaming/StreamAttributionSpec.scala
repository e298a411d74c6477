package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Watermarked stream-stream interval join: purchases match the same
  * user's clicks in the preceding hour, state survives a checkpointed
  * restart, and out-of-window / wrong-user clicks never match. */
class StreamAttributionSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  private def runOnce(clickDir: String, purchaseDir: String,
      out: String, cp: String): Unit = {
    val clicks = spark.readStream.schema(schema).json(clickDir)
    val purchases = spark.readStream.schema(schema).json(purchaseDir)
    val q = StreamAttribution.attribute(clicks, purchases)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("interval join matches in-window clicks and survives a restart") {
    val root = Bridge.createTempDir("graft-attr").toString
    val (cin, pin, out, cp) = (s"$root/c", s"$root/p", s"$root/out", s"$root/cp")
    Files.createDirectories(java.nio.file.Paths.get(cin))
    Files.createDirectories(java.nio.file.Paths.get(pin))

    // batch 1: user 1 purchase at 10:30; click 100 at 10:00 (in
    // window), click 101 at 11:00 (after the purchase — no match),
    // click 102 by another user (no match)
    Files.writeString(java.nio.file.Paths.get(s"$pin/b1.json"),
      """{"event_id":900,"user_id":1,"ts":"2024-01-01T10:30:00.000Z"}
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$cin/b1.json"),
      """{"event_id":100,"user_id":1,"ts":"2024-01-01T10:00:00.000Z"}
        |{"event_id":101,"user_id":1,"ts":"2024-01-01T11:00:00.000Z"}
        |{"event_id":102,"user_id":2,"ts":"2024-01-01T10:10:00.000Z"}
        |""".stripMargin)
    runOnce(cin, pin, out, cp)

    // batch 2 (fresh run, same checkpoint): a LATE click at 10:15 —
    // within the watermark and inside the earlier purchase's window —
    // must match against purchase state recovered from the checkpoint
    Files.writeString(java.nio.file.Paths.get(s"$cin/b2.json"),
      """{"event_id":103,"user_id":1,"ts":"2024-01-01T10:15:00.000Z"}
        |""".stripMargin)
    runOnce(cin, pin, out, cp)

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
      .sorted
    assert(got === Array((900L, 100L), (900L, 103L)))
  }
}
