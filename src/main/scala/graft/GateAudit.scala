package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Scale-step plan audit: dump the formatted plans of the heaviest
  * queries at a given scale factor AND assert that the library's
  * runtime branch gates chose the branch the docs say they must at
  * that scale — so "the plan at 100×" is reviewable without re-running,
  * and a gate silently flipping (threshold drift, refactor) fails a
  * committed check instead of surfacing as a perf cliff.
  *
  * Asserted gates:
  *  - q17/q18 adaptive cosine (Similarity.cosineTopKAdaptive): dense
  *    kernel at broadcast-sized vocab/probe/work budgets, postings
  *    join past them. Branch is visible pre-execution: the dense plan
  *    carries the FloatMatCosines kernel; the postings plan joins on
  *    `word`.
  *  - q87 adjacency transfer (Graph.q87RankedPlan's maxBroadcastEdges):
  *    broadcast-hash endpoint join up to the edge budget, shuffled
  *    equi-join past it. Asserted on the PLAN of the intersect stage
  *    (the stage itself is not executed here — the gate's edge count
  *    and the checkpointed prefix are).
  *
  * Usage: GateAudit <sfDir> <outFile> <dense|postings> <broadcast|shuffle>
  * Exit 1 on any gate mismatch. Run via tools/run_plan_audit.sh, which
  * audits every documented regime: sf0.1 dense+broadcast, sf10
  * postings+broadcast at the bench heap (the heap-derived q87 budget
  * admits sf10's graph at 80g), sf100 postings+shuffle. */
object GateAudit {

  private val DumpQueries = Seq(
    // the heaviest sf10 queries whose DataFrame construction is
    // plan-lazy (q88 is excluded: building its DataFrame builds the
    // on-disk index artifact; its serve plan is audited by AnnSpec)
    "q17_cosine_topk", "q18_weighted_recs", "q21_dedup_minhash",
    "q25_ann_lsh", "q41_dedup_pipeline", "q82_pq_ann",
    "q86_bpe", "q89_bpe_apply", "q90_semantic_dedup", "q95_ngram_novelty")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile, denseExpect, bcastExpect) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    var failures = List.empty[String]

    sb.append(s"# Plans at $sfDir\n\n")

    // -- gate 1: q17 adaptive cosine ----------------------------------
    val q17 = graft.operators.Similarity.q17CosineTopK(spark, sfDir)
    val q17Plan = q17.queryExecution.executedPlan.toString
    val isDense = q17Plan.contains("floatmat_cosines")
    val denseOk = isDense == (denseExpect == "dense")
    sb.append(s"## GATE q17 adaptive-cosine: chose " +
      s"${if (isDense) "dense" else "postings"} (expected $denseExpect) " +
      s"${if (denseOk) "OK" else "MISMATCH"}\n\n")
    if (!denseOk) failures ::= s"q17 gate: expected $denseExpect"

    // -- gate 2: q87 adjacency broadcast-vs-shuffle -------------------
    val (ranked, cps) = graft.operators.Graph.q87RankedPlan(spark, sfDir)
    val q87Plan = ranked.queryExecution.executedPlan.toString
    // the endpoint join attaches adj(d) to every edge; with the
    // broadcast gate open it plans as a BroadcastHashJoin carrying the
    // nbrs list next to the node-sized readout join's (two in total),
    // otherwise as a shuffled join on d and only the readout broadcasts
    val nbrsJoins = "BroadcastHashJoin".r.findAllIn(q87Plan).length
    val isBcast = q87Plan.contains("nbrs") && nbrsJoins >= 2
    val bcastOk = isBcast == (bcastExpect == "broadcast")
    sb.append(s"## GATE q87 adjacency: chose " +
      s"${if (isBcast) "broadcast" else "shuffle"} (expected $bcastExpect) " +
      s"${if (bcastOk) "OK" else "MISMATCH"}\n\n")
    if (!bcastOk) failures ::= s"q87 gate: expected $bcastExpect"
    sb.append("### q87 intersect-stage plan\n```\n")
      .append(fmt(ranked)).append("\n```\n\n")
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(cps: _*)

    // -- formatted plans of the heavy set -----------------------------
    DumpQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"## $name\n```\n").append(fmt(df)).append("\n```\n\n")
    }

    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[gateaudit] wrote $outFile; " +
      (if (failures.isEmpty) "all gates OK"
       else s"GATE MISMATCHES: ${failures.mkString("; ")}"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
