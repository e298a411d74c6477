package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming minhash near-dup over a file source with a checkpoint:
  * band claims made in an earlier run flag near-duplicate content
  * arriving in a LATER run via state recovered from the checkpoint —
  * the ingest-time face of the batch q21 LSH candidates. */
class StreamNearDedupSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  private def runOnce(in: String, out: String, cp: String): Unit = {
    val docs = spark.readStream.schema(schema).json(in)
    val q = StreamDedup.nearDedupStream(docs, horizon = "30 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("stream near-dup flags band collisions across checkpointed runs") {
    val root = Bridge.createTempDir("graft-sneardup").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    Files.createDirectories(java.nio.file.Paths.get(in))

    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val variant = (1 to 19).map(i => s"w$i").mkString(" ") + " zz" // J = 16/20
    val other = (1 to 20).map(i => s"x$i").mkString(" ")
    val late = (1 to 20).map(i => s"y$i").mkString(" ")

    // run 1: two unrelated docs claim their bands
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      s"""{"doc_id":1,"text":"$base","ts":"2024-01-01T10:00:00.000Z"}
         |{"doc_id":2,"text":"$other","ts":"2024-01-01T10:00:05.000Z"}
         |""".stripMargin)
    runOnce(in, out, cp)

    // run 2 (fresh run, same checkpoint): an exact copy and a one-word
    // variant of doc 1 must flag via band state recovered from cp; a
    // genuinely new doc must not. The far-future sentinel only pushes
    // the watermark so all earlier 1-minute windows close and emit.
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      s"""{"doc_id":3,"text":"$base","ts":"2024-01-01T10:10:00.000Z"}
         |{"doc_id":4,"text":"$late","ts":"2024-01-01T10:10:05.000Z"}
         |{"doc_id":5,"text":"$variant","ts":"2024-01-01T10:10:10.000Z"}
         |{"doc_id":99,"text":"flush flush flush flush","ts":"2024-01-01T11:30:00.000Z"}
         |""".stripMargin)
    runOnce(in, out, cp)

    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("fresh_bands"), r.getAs[Boolean]("is_near_dup")))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L, 5L),
      "sentinel window is still open; all data windows emitted")
    assert(rows(1L) === ((32L, false)), "first claimer keeps all bands")
    assert(rows(2L) === ((32L, false)))
    assert(rows(3L) === ((0L, true)), "exact copy loses every band")
    assert(rows(4L) === ((32L, false)))
    assert(rows(5L)._2 === true, "J=0.8 variant collides in some band")
    assert(rows(5L)._1 < 32L)
  }

  test("packed claim key flags the identical set as the (band, hash) pair key") {
    // r12 packs the dedup state key from (band int, hash long) into
    // one long — (bh << 6) | band. This pins the packing against the
    // pre-r12 two-column formulation on a REAL corpus (sf0.01, 5k
    // docs, genuine near-dups): every (doc_id, fresh_bands,
    // is_near_dup) must match exactly. The only semantic daylight
    // between the two is a 58-bit hash collision across bands
    // (~2^-58 per pair) — absent here and negligible at any horizon.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    def referenceNearDedup(docs: DataFrame): DataFrame = {
      // the pre-r12 formulation, verbatim: two-column key, presence
      // under band -1
      import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
      val bandHashes = exprCol(graft.functions.MinhashBandHashes(
        expression(col("tri")), 128, 32))
      val base = docs
        .withColumn("tri", graft.operators.Dedup.triHash)
        .filter(size(col("tri")) > 0)
      val bandRows = base.select(col("doc_id"), col("ts"),
        posexplode(bandHashes).as(Seq("band", "bh")))
      val presence = base.select(col("doc_id"), col("ts"),
        lit(-1).as("band"), col("doc_id").as("bh"))
      bandRows.unionByName(presence)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("band", "bh")
        .groupBy(window(col("ts"), "1 minute").as("win"), col("doc_id"))
        .agg((count(lit(1)) - 1).as("fresh_bands"))
        .select(col("doc_id"), col("win"), col("fresh_bands"),
          (col("fresh_bands") < 32).as("is_near_dup"))
    }

    val root = Bridge.createTempDir("graft-sneardup-eq").toString
    val in = s"$root/in"
    // feed file 1: the sf0.01 corpus, one doc per 100 ms; file 2: a
    // far-future sentinel that pushes the watermark so every data
    // window closes and emits (fpt=1 -> two batches)
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_micros(lit(1704067200000000L) + col("doc_id") * 100000L)
          .as("ts"))
      .coalesce(1).sortWithinPartitions(col("ts"))
      .write.parquet(s"$in/t0000")
    spark.createDataFrame(Seq((999999L, "flush flush flush flush")))
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) + 86400L * 1000000L))
      .coalesce(1).write.parquet(s"$in/t0001")
    new java.io.File(s"$in/t0000").listFiles().foreach(_.setLastModified(1700000000000L))
    new java.io.File(s"$in/t0001").listFiles().foreach(_.setLastModified(1700000001000L))

    val schema = spark.read.parquet(s"$in/t0000").schema
    def collectFlags(build: DataFrame => DataFrame, tag: String): Map[Long, (Long, Boolean)] = {
      val out = s"$root/out-$tag"
      val q = build(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$in/t*"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$root/cp-$tag")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("fresh_bands"), r.getAs[Boolean]("is_near_dup")))).toMap
    }

    val packed = collectFlags(df => StreamDedup.nearDedupStream(df), "packed")
    val reference = collectFlags(referenceNearDedup, "ref")
    assert(packed.nonEmpty && packed.values.exists(_._2),
      "corpus must exercise real near-dup flags")
    assert(packed === reference,
      "packed single-long claims must flag the identical candidate set")
  }
}
