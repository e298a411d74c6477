package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming CDC upsert across a checkpointed restart: the snapshot
  * state survives, a late out-of-order change (lower seq) cannot
  * overwrite it, and delete tombstones block resurrection. Each
  * micro-batch's emitted deltas land in parquet via foreachBatch with
  * the batch id; the final snapshot is the latest delta per key. */
class StreamCdcSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("seq", LongType),
    StructField("op", StringType), StructField("value", DoubleType)))

  private def runOnce(in: String, out: String, cp: String): Unit = {
    val changes = spark.readStream.schema(schema).json(in)
    val q = StreamCdc.upsertStream(changes)
      .writeStream
      .outputMode(StreamCdc.RequiredOutputMode)
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamCdc.Snapshot],
          id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("cdc upsert: state survives restart; late low-seq changes lose; tombstones hold") {
    val root = Bridge.createTempDir("graft-scdc").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    // batch 1: key 1 updated twice (out of order IN batch), key 2
    // updated then deleted
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"key":1,"seq":10,"op":"U","value":1.0}
        |{"key":1,"seq":5,"op":"U","value":99.0}
        |{"key":2,"seq":7,"op":"U","value":2.0}
        |{"key":2,"seq":8,"op":"D","value":0.0}
        |""".stripMargin)
    runOnce(in, out, cp)

    // batch 2 after restart: a LATE change for key 1 below seq 10
    // (must not overwrite), a post-delete low-seq update for key 2
    // (must not resurrect), and a fresh key 3
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      """{"key":1,"seq":9,"op":"U","value":50.0}
        |{"key":2,"seq":6,"op":"U","value":42.0}
        |{"key":3,"seq":1,"op":"U","value":3.0}
        |""".stripMargin)
    runOnce(in, out, cp)

    val deltas = spark.read.parquet(out).collect()
    val finalSnap = deltas.groupBy(_.getAs[Long]("key")).map { case (k, rows) =>
      val last = rows.maxBy(_.getAs[Long]("batch_id"))
      k -> ((last.getAs[Long]("last_seq"), last.getAs[String]("op"),
        last.getAs[Double]("value"), last.getAs[Long]("n_changes")))
    }
    // key 1: seq-10 row holds through the late seq-9 change; 3 changes seen
    assert(finalSnap(1L) === ((10L, "U", 1.0, 3L)))
    // key 2: tombstone at seq 8 holds against the seq-6 update
    assert(finalSnap(2L) === ((8L, "D", 0.0, 3L)))
    assert(finalSnap(3L) === ((1L, "U", 3.0, 1L)))
    // batch 2 emitted deltas only for touched keys — and every key was
    // touched in batch 2 here; batch 1 emitted only keys 1 and 2
    val b1keys = deltas.filter(_.getAs[Long]("batch_id") == 0L)
      .map(_.getAs[Long]("key")).sorted
    assert(b1keys === Array(1L, 2L))
  }
}
