package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import org.apache.spark.sql.graftbridge.Bridge

/** Streamed ingest preprocessing must equal the batch computation row
  * for row — same expressions, two execution modes. */
class StreamIngestSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("n_chars", LongType)))

  test("streamed quality-filter + chunking equals the batch pipeline") {
    val dir = Bridge.createTempDir("graft-singest").toString
    // stage real corpus rows as the incoming stream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars")
    docs.coalesce(1).write.mode("overwrite").json(s"$dir/in")

    val streamed = StreamIngest.preprocess(
      spark.readStream.schema(schema).json(s"$dir/in"),
      minQuality = 0.8, chunkSize = 32, stride = 24)
    val q = streamed.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/cp")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(s"$dir/out")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[String]("chunk_text"))).toSet
    val batch = StreamIngest.preprocess(docs, minQuality = 0.8,
        chunkSize = 32, stride = 24)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[String]("chunk_text"))).toSet
    assert(got === batch)
    assert(batch.nonEmpty, "some docs must clear the floor")
    // the floor really filters: scored coverage is partial
    assert(StreamIngest.scored(docs)
      .filter(col("quality_score") < 0.8).count() > 0,
      "the corpus must exercise the drop path")
  }
}
