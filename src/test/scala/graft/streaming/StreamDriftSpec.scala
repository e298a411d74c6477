package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming drift monitor: per-(window, term) cells emit once at
  * window close; the batch readout scores them against a reference
  * distribution with the q81 integer arithmetic. */
class StreamDriftSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("text", StringType), StructField("ts", TimestampType)))

  test("closed-window term cells match batch; drift report flags the shifted term") {
    val root = Bridge.createTempDir("graft-drift").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    // window 10:00-11:00 is heavy on "spam"; the reference has none.
    // The 13:00 sentinel pushes the watermark past the window end.
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"text":"spam spam spam join","ts":"2024-01-01T10:05:00.000Z"}
        |{"text":"spam hash join","ts":"2024-01-01T10:20:00.000Z"}
        |{"text":"row hash join","ts":"2024-01-01T10:40:00.000Z"}
        |{"text":"row","ts":"2024-01-01T13:00:00.000Z"}
        |""".stripMargin)

    val docs = spark.readStream.schema(schema).json(in)
    val q = StreamDrift.termCells(docs, windowLen = "1 hour", horizon = "30 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val cells = spark.read.parquet(out)
    // only the closed 10:00 window emits (13:00's window is still open)
    val got = cells.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("o")).toMap
    assert(got === Map("spam" -> 4L, "join" -> 3L, "hash" -> 2L, "row" -> 1L))

    // readout against a reference where spam does not exist at all is
    // undefined (e = 0) — reference must carry every scored term; use
    // a smoothed reference including a 1-count floor for spam
    import spark.implicits._
    val reference = Seq(("join", 30L), ("hash", 30L), ("row", 30L), ("spam", 1L))
      .toDF("term", "ref_cnt")
    val report = StreamDrift.driftReport(cells, reference, topN = 2).collect()
    assert(report.length === 2)
    val top = report.find(_.getAs[Int]("drift_rank") == 1).get
    assert(top.getAs[String]("term") === "spam", "the planted shift must rank first")

    // integer replay of the readout arithmetic (the q81 recipe)
    val wTot = 10.0; val refTot = 91.0
    val e = wTot * 1.0 / refTot
    val expectedMicro = math.floor((4.0 - e) * (4.0 - e) / e * 1000000.0).toLong
    assert(top.getAs[Long]("chi2_micro") === expectedMicro)
    assert(top.getAs[Long]("w_tot") === 10L)

    // RESTART from the same checkpoint: a second batch closes the
    // 13:00 window (sentinel at 16:00); its cells must fold in the
    // counts buffered BEFORE the restart, and the already-emitted
    // 10:00 window must not re-emit
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      """{"text":"row join","ts":"2024-01-01T13:10:00.000Z"}
        |{"text":"hash","ts":"2024-01-01T16:00:00.000Z"}
        |""".stripMargin)
    val q2 = StreamDrift.termCells(docs, windowLen = "1 hour", horizon = "30 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val byWin = spark.read.parquet(out).collect()
      .groupBy(_.getAs[org.apache.spark.sql.Row]("win").getAs[java.sql.Timestamp](0).toString)
      .view.mapValues(_.map(r => r.getAs[String]("term") -> r.getAs[Long]("o")).toMap).toMap
    assert(byWin.keySet.size === 2, s"exactly two closed windows, got ${byWin.keySet}")
    // pre-restart "row" at 13:00 + post-restart "row join" fold together
    assert(byWin.values.exists(_ === Map("row" -> 2L, "join" -> 1L)),
      s"13:00 window must merge state across the restart, got $byWin")
    // the 10:00 window still appears exactly once (no duplicate emission)
    assert(byWin.values.count(_.get("spam").contains(4L)) === 1)
  }
}
