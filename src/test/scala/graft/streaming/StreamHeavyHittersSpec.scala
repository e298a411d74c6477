package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** The Misra-Gries aggregator (q48) under Structured Streaming:
  * mergeable summaries are precisely what streaming aggregation state
  * needs — per-batch partials merge into the running state, and the
  * MG guarantees hold over the TOTAL stream, not just one batch. */
class StreamHeavyHittersSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("event_type", StringType), StructField("user_id", LongType)))

  test("streaming MG heavy hitters keep their bounds across micro-batches") {
    val root = Bridge.createTempDir("graft-shh").toString
    val in = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // batch 1: user 1 heavy; batch 2: user 2 heavier — state must merge
    def rows(pairs: (Long, Int)*): String = pairs.flatMap { case (u, n) =>
      Seq.fill(n)(s"""{"event_type":"click","user_id":$u}""")
    }.mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      rows(1L -> 30, 2L -> 5, 3L -> 2, 4L -> 1))
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      rows(2L -> 40, 1L -> 5, 5L -> 3))

    val mg = udaf(new graft.functions.MisraGriesAgg(4))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in)
      .groupBy(col("event_type"))
      .agg(mg(col("user_id")).as("hh"), count(lit(1)).as("events"))
    val q = stream.writeStream.format("memory").queryName("graft_shh")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("graft_shh")
      .select(col("events"), explode(col("hh")).as(Seq("user_id", "est")))
      .collect()
    val n = out.head.getAs[Long]("events")
    assert(n === 86L)
    val truth = Map(1L -> 35L, 2L -> 45L, 3L -> 2L, 4L -> 1L, 5L -> 3L)
    val bound = n / 5 // k=4 -> N/(k+1)
    out.foreach { r =>
      val est = r.getAs[Long]("est")
      val t = truth(r.getAs[Long]("user_id"))
      assert(est <= t && t - est <= bound)
    }
    // the two genuinely heavy users survive the merge across batches
    val present = out.map(_.getAs[Long]("user_id")).toSet
    assert(present.contains(1L) && present.contains(2L))
    spark.sql("DROP VIEW IF EXISTS graft_shh")
  }
}
