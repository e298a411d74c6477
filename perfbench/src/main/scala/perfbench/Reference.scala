package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.{Sessions, SparkEntry}

/** Reference digests: loading them for a run, and dumping the
  * benchmark's queries so perfbench/make_reference.py can check each
  * dump against its DuckDB oracle before recording its digest. */
object Reference {

  /** query -> `rows:lo:hi` from a reference JSON file. */
  def load(p: Path): Map[String, String] =
    """"(q\d\d_[a-z0-9_]+)"\s*:\s*"(-?\d+:-?\d+:-?\d+)"""".r
      .findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** args: corpus outDir cores. Writes outDir/<query>/ (one parquet
    * part, as check_oracle.py reads it), outDir/oracle_sql.json, and
    * outDir/digests.tsv with the digest of a fresh build of the query
    * and of its dump read back; the two must agree. */
  def main(args: Array[String]): Unit = {
    val Array(corpus, outDir, cores) = args
    val spark = Sessions.local(cores, periodicGc = "30min")
    val queries = Main.BiShort
    val rows = queries.map { q =>
      val live = Digest.of(SparkEntry.queries(q)(spark, corpus))
      SparkEntry.queries(q)(spark, corpus).repartition(1)
        .write.mode("overwrite").parquet(s"$outDir/$q")
      val dumped = Digest.of(spark.read.parquet(s"$outDir/$q"))
      System.err.println(s"[reference] $q live=$live dumped=$dumped")
      s"$q\t$live\t$dumped"
    }
    Files.writeString(Paths.get(outDir, "digests.tsv"), rows.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), queries.map { q =>
      s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}"
    }.mkString("{", ",\n", "}\n"))
    spark.stop()
  }
}
