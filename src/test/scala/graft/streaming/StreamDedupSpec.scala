package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming dedup over a file source with a checkpoint: duplicate
  * content arriving in a LATER micro-batch is dropped using keyed
  * state recovered from the checkpoint — the cross-restart guarantee
  * an ingest pipeline needs. */
class StreamDedupSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  private def runOnce(in: String, out: String, cp: String): Unit = {
    val docs = spark.readStream.schema(schema).json(in)
    val q = StreamDedup.dedupStream(docs)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("stream dedup drops duplicate content across checkpointed batches") {
    val root = Bridge.createTempDir("graft-sdedup").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    // batch 1: two distinct docs, one in-batch duplicate of doc 1
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"doc_id":1,"text":"alpha beta gamma","ts":"2024-01-01T10:00:00.000Z"}
        |{"doc_id":2,"text":"delta epsilon zeta","ts":"2024-01-01T10:00:05.000Z"}
        |{"doc_id":3,"text":"alpha beta gamma","ts":"2024-01-01T10:00:10.000Z"}
        |""".stripMargin)
    runOnce(in, out, cp)

    // batch 2 (fresh run, same checkpoint): another duplicate of doc 1
    // within the horizon — dropped via state recovered from cp — plus
    // one genuinely new doc
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      """{"doc_id":4,"text":"alpha beta gamma","ts":"2024-01-01T10:10:00.000Z"}
        |{"doc_id":5,"text":"eta theta iota","ts":"2024-01-01T10:10:05.000Z"}
        |""".stripMargin)
    runOnce(in, out, cp)

    val kept = spark.read.parquet(out).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(kept === Array(1L, 2L, 5L))
  }
}
