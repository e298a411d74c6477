package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made the Expression-backed
  * Column constructor private[sql]; a library shipping custom Catalyst
  * expressions needs exactly this seam, so we expose it from inside
  * the sql package tree (same technique Spark's own extensions use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The persisted RDD behind a localCheckpoint()ed Dataset, if any.
    * Dataset.localCheckpoint truncates lineage into a LogicalRDD whose
    * blocks stay persisted until GC/ContextCleaner; exposing the RDD
    * handle lets iterative operators unpersist intermediates the moment
    * their bounded result is materialized, instead of littering the
    * block manager for the life of the session. */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Release the checkpoint blocks of the given frames (no-op for
    * frames that are not checkpoint-backed). Callers must not evaluate
    * the freed frames afterwards — localCheckpoint lineage cannot be
    * recomputed. */
  def releaseCheckpoints(dfs: org.apache.spark.sql.DataFrame*): Unit =
    dfs.foreach(df => checkpointRdd(df).foreach(_.unpersist(blocking = false)))

  /** Ids of every shuffle currently registered with the driver's map
    * output tracker. Snapshot/diff pairs of this set let an iterative
    * operator name exactly the shuffles its own rounds created. */
  def shuffleIds(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    org.apache.spark.SparkEnv.get.mapOutputTracker
      .asInstanceOf[org.apache.spark.MapOutputTrackerMaster]
      .shuffleStatuses.keySet.toSet

  /** Deterministically release the given shuffles NOW — unregister the
    * map outputs and delete the shuffle files — instead of waiting for
    * the ContextCleaner to notice the referencing RDDs are garbage.
    * This is the disk-hygiene twin of releaseCheckpoints: an iterative
    * operator that truncates its lineage (localCheckpoint) has PROVED
    * the pre-truncation shuffles dead, but the JVM may not GC the plan
    * objects for many minutes on a large heap — at sf100 one PageRank
    * round's contribution shuffle is ~10 GB, so three retained dead
    * rounds exceed the local-disk budget while the live working set
    * fits easily (the committed r8 ENOSPC).
    *
    * `blocking` governs only the FILE deletion: unregistration from the
    * map output tracker is synchronous either way (the no-leak specs
    * assert on registered ids). blocking = true waits for the block
    * managers to confirm the files are gone — the guarantee a
    * disk-pressured run needs before its next round writes; blocking =
    * false queues the deletion and returns, which measures ~25% faster
    * on small-sf iterative queries where the per-id synchronization
    * dominates the (tiny) file sizes. Use [[sweepShuffles]] to pick
    * per-call from actual disk headroom.
    *
    * Callers must only pass ids whose results can no longer be needed:
    * ids created by THIS operator's already-materialized rounds, never
    * a baseline id that predates the operator (a sequential driver —
    * Bench/Verify run queries one at a time — makes the since-baseline
    * diff exact). Cleaning is idempotent; the ContextCleaner's later
    * GC-driven pass over the same ids is a no-op. */
  def removeShuffles(spark: org.apache.spark.sql.SparkSession,
      ids: Iterable[Int], blocking: Boolean = true): Unit =
    spark.sparkContext.cleaner.foreach { c =>
      ids.foreach(id => c.doCleanupShuffle(id, blocking = blocking))
    }

  /** Free space (GiB) on the filesystem holding this session's shuffle
    * spill dirs (first `spark.local.dir` entry, else java.io.tmpdir) —
    * the number that decides whether a dead-shuffle sweep must block. */
  def shuffleDirFreeGb(spark: org.apache.spark.sql.SparkSession): Long = {
    val dir = spark.conf.getOption("spark.local.dir")
      .map(_.split(",").head.trim)
      .filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    new java.io.File(dir).getUsableSpace / (1024L * 1024 * 1024)
  }

  /** Adaptive per-round sweep: delete the given dead shuffles, waiting
    * for the files to hit the floor only when the shuffle-temp
    * filesystem is actually short on headroom (free GiB below
    * [[BlockingSweepFreeGb]] — roughly three sf100 PageRank rounds).
    * Under pressure the sf100 guarantee holds exactly as before — the
    * files are gone before this returns; with ample headroom the
    * deletion is queued asynchronously and the iteration doesn't pay a
    * per-id synchronization round-trip that A/B measured at ~+25% on
    * sf0.1 q53 (VERDICT_r9 item 4). */
  def sweepShuffles(spark: org.apache.spark.sql.SparkSession,
      ids: Iterable[Int]): Unit =
    if (shuffleDirFreeGb(spark) < BlockingSweepFreeGb) {
      val t0 = System.nanoTime()
      removeShuffles(spark, ids, blocking = true)
      SweepStats.blockedNanos.addAndGet(System.nanoTime() - t0)
    } else removeShuffles(spark, ids, blocking = false)

  /** Free GiB on the shuffle-temp filesystem below which a sweep blocks. */
  private val BlockingSweepFreeGb = 32L

  /** Process-cumulative sweep accounting, so an iterative operator's
    * wall can be split into "waiting for dead files to hit the floor"
    * vs compute (the q53 sf100 28x-for-10x attribution question):
    * blockedNanos accumulates ONLY the disk-pressured blocking waits
    * (the async path returns immediately by construction). Read-only
    * consumers take deltas; monotone, never reset by operators. */
  object SweepStats {
    val blockedNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** A fresh, uniquely named directory `<java.io.tmpdir>/<prefix>-<uuid>`,
    * registered with Spark's shutdown hook for deletion at JVM exit. */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(
      System.getProperty("java.io.tmpdir"), prefix)

  /** A frame over rows already on the driver: the LocalRelation that
    * `createDataFrame` builds, minus its external-row conversion, so
    * every value (NaN bits, -0.0, microsecond timestamps) is served
    * exactly as it was collected. */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows in Spark's internal format, collected by one job that
    * runs as a tracked SQL execution. Each row owns its bytes
    * (SparkPlan.executeCollect decodes every row into its own array). */
  def collectUnsafe(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.executeCollect())
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow])
  }

  /** The schema a `spark.read.parquet` of a Spark-written file reports,
    * read from that file's footer on the driver: the same footer
    * conversion schema inference runs, without its Spark job, made
    * nullable as a file-source read makes it. */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val path = new org.apache.hadoop.fs.Path(file)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, s.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf)).asNullable
  }

  /** Imperative function registration on a live session (the
    * config-time path is SparkSessionExtensions.injectFunction). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
