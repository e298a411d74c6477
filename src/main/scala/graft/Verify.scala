package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * SPARK_GRAFT_VERIFY_SKIP (comma list) exists for the scale-step
  * gates, which exclude the documented quadratic-by-construction
  * baselines exactly as the scale bench does. NEVER silent: the list
  * is echoed and written to outDir/skipped.json so the downstream
  * checker records each name as deliberately-skipped rather than
  * missing.
  *
  * SPARK_GRAFT_VERIFY_ONLY (comma list) is the builder's inner-loop
  * twin of the bench's ONLY knob: dump just the named queries (paired
  * with check_oracle.py's CHECK_ORACLE_ONLY for a single-query gate
  * while iterating). The full driver gate never sets it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val skip = sys.env.get("SPARK_GRAFT_VERIFY_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Long timer interval + explicit GC per dump (below): the dump
    // loop's debris bound is per-query/event-driven, not time-driven —
    // same policy as Bench, where the 2-min timer's 1-2 s STW Full
    // pauses were landing inside measurement windows.
    val spark = Sessions.local(cpus, periodicGc = "30min")
    new java.io.File(outDir).mkdirs()
    if (skip.nonEmpty)
      System.err.println(s"[verify] SKIPPING (documented scale-step " +
        s"exclusions): ${skip.toSeq.sorted.mkString(",")}")
    Files.writeString(Paths.get(s"$outDir/skipped.json"),
      Json.arr(skip.toSeq.sorted.map(Json.str)))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!skip(name) && only.forall(_.contains(name))) {
        // repartition(1), NOT coalesce(1): the checker needs one part
        // file, but coalesce(1) removes the stage boundary and drags
        // the WHOLE upstream computation onto a single thread — for the
        // shuffle-free per-row queries that serializes the entire scan
        // (observed: 15 min on one core for a dump the 32-way plan does
        // in seconds). repartition keeps upstream parallel and pays one
        // result-sized shuffle into the single writer task.
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // boundary GC: reap this dump's dead shuffle files before the
        // next query starts — bounds the multi-hour scale-gate dump's
        // shuffle-temp footprint at one query's worth
        System.gc()
      }
    }
    val json = Json.obj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
