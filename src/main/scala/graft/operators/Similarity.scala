package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Sparse-vector similarity and recommendation operators — graft's
  * re-expression of the reference's TaxonomyRelationships pipeline
  * (tasks.py:105-563): build sparse feature vectors from taxonomy
  * values, L2-normalize, cosine-similarity, blend with min-max
  * normalized popularity, emit top-n recommendations
  * (tasks.py:384-538).
  *
  * The reference materializes dense scipy matrices on one node
  * (tasks.py:454-464 cosine_similarity(matrix)); at 100 TB that is
  * impossible, so here similarity is the classic distributed
  * sparse-dot-product: explode (doc, term, weight) postings, join on
  * term, partial-sum products. Only probe×term postings shuffle; the
  * full doc×doc matrix never exists anywhere.
  *
  * All scores stay exactly reproducible: dot products are integer
  * sums; norms/divisions are IEEE ops applied in identical order in
  * any engine, so the DuckDB oracle matches bit-for-bit.
  */
object Similarity {

  /** (doc_id, word, cnt) postings from the documents table. The
    * repartition spreads tokenization off the (single-split) test
    * scan; on a many-file table it's a no-op by partition count. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-doc L2 norm of the count vector (exact integer sum → sqrt). */
  def norms(post: DataFrame): DataFrame =
    post.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("cnt") * col("cnt"))).as("norm"))

  /** Sparse feature matrix with L2 normalization — build_feature_matrix
    * (tasks.py:384-452). Returns one row per doc with the features as a
    * map<string,double> of L2-normalized weights. */
  def featureMatrix(spark: SparkSession, dir: String): DataFrame = {
    val post = postings(spark, dir)
    val n = norms(post)
    post.join(n, "doc_id")
      .groupBy(col("doc_id"))
      .agg(
        map_from_entries(collect_list(struct(col("word"), col("cnt") / col("norm"))))
          .as("features"),
        count(lit(1)).as("n_features"),
        first(col("norm")).as("l2_norm"))
  }

  /** Scalar projection of the feature matrix for the oracle gate. */
  def q19FeatureMatrix(spark: SparkSession, dir: String): DataFrame = {
    postings(spark, dir)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_features"),
        sqrt(sum(col("cnt") * col("cnt"))).as("l2_norm"),
        (max(col("cnt")).cast("double") / sqrt(sum(col("cnt") * col("cnt"))))
          .as("max_weight"))
  }

  /** Cosine top-k per probe via distributed sparse dot product
    * (tasks.py:454-538). Probes = doc_id % 50 == 0. The term-postings
    * join is skew-prone on hot terms; at 100 TB hot terms get salted
    * or dropped by a document-frequency cap (standard practice —
    * stop-term pruning), which AQE's skew-join handles here. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    // The postings table feeds four consumers (probe side, neighbor
    // side, both norm joins) and the probe filter pushes into each
    // scan, so the subtrees differ and the pipeline recomputes per
    // consumer. That is DELIBERATE: recomputing a tokenize+aggregate
    // over the scan is cheaper than a materialization barrier
    // (measured: localCheckpoint here costs ~10% end-to-end), and each
    // recompute carries its own pushed-down probe filter. A pipeline
    // that reuses postings across MANY queries should persist them as
    // a real table (sources/Tables.writePartitionedByDay-style), not
    // hide a cache inside one query.
    val post = postings(spark, dir)
    val n = norms(post)
    val probes = post.filter(graft.Probes.isProbe(spark, col("doc_id")))
      .select(col("doc_id").as("probe_doc"), col("word"), col("cnt").as("p_cnt"))
    val dots = probes
      .join(post.withColumnRenamed("doc_id", "neighbor_doc"), "word")
      .filter(col("probe_doc") =!= col("neighbor_doc"))
      .groupBy(col("probe_doc"), col("neighbor_doc"))
      .agg(sum(col("p_cnt") * col("cnt")).as("dot"))
    val scored = dots
      .join(n.select(col("doc_id").as("probe_doc"), col("norm").as("p_norm")), "probe_doc")
      .join(n.select(col("doc_id").as("neighbor_doc"), col("norm").as("n_norm")), "neighbor_doc")
      .withColumn("cosine", col("dot").cast("double") / (col("p_norm") * col("n_norm")))
    // final top-k stays the codegen'd window sort, NOT TopKAgg: the
    // candidate set here is large (every doc sharing a term with a
    // probe scores), and a typed udaf pays per-row object
    // deserialization on all of it — measured clearly slower than the
    // window tail here. TopKAgg wins when the aggregate INPUT is
    // modest per group (q04/q52); whole-stage codegen wins when the
    // reduction input is the big table.
    val w = Window.partitionBy(col("probe_doc"))
      .orderBy(col("cosine").desc, col("neighbor_doc").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_doc"), col("neighbor_doc"), col("rank"), col("cosine"))
  }

  /** Bounded dictionary discovery: at most maxVocab+1 words ever reach
    * the driver, whatever the corpus size. */
  private def discoverVocab(spark: SparkSession, dir: String,
      maxVocab: Int): Array[String] =
    postings(spark, dir).select(col("word")).distinct()
      .orderBy(col("word")).limit(maxVocab + 1).collect().map(_.getString(0))

  /** The adaptive gate's discovery outputs: the bounded vocabulary
    * probe, plus (corpus, probe) counts — the counts are only measured
    * when the vocabulary fits (an over-limit vocab short-circuits to
    * the postings path without touching the corpus again). */
  private[graft] case class GateProbe(vocab: Array[String],
      counts: Option[(Long, Long)])

  /** Memoized per (session, dir, maxVocab), the q88-artifact precedent:
    * q17 and q18 share the same gate, and within one session (a bench
    * rep loop, or a report computing both) the discovery aggregates —
    * one distinct-limit collect plus one corpus count pass — are
    * identical, so re-running them buys nothing. A fresh session
    * always re-probes, so data changed on disk is picked up at the
    * same granularity the q88 index build already established; stored
    * in the WEAK per-session store (Sessions.sessionMemo, r13) so a
    * dropped session's probes are collectable with it. */
  private[graft] def gateKey(spark: SparkSession, dir: String, maxVocab: Int): Any =
    ("q17gate", dir, maxVocab, graft.Probes.cap(spark))

  // The probe cap joins the key: the session's cap can change within
  // the session (Bench's half-cap rerun, specs), and a probe count
  // taken under another cap is stale.
  private def gateProbe(spark: SparkSession, dir: String,
      maxVocab: Int): GateProbe =
    graft.Sessions.sessionMemo(spark, gateKey(spark, dir, maxVocab)) {
      val vocab = discoverVocab(spark, dir, maxVocab)
      if (vocab.length > maxVocab) GateProbe(vocab, None)
      else {
        val counts = Tables.documents(spark, dir).agg(
          count(lit(1)).as("n"),
          sum(when(graft.Probes.isProbe(spark, col("doc_id")), 1L).otherwise(0L)).as("probes"))
          .head()
        GateProbe(vocab, Some((counts.getLong(0), counts.getLong(1))))
      }
    }

  /** Adaptive default: probe the dictionary (the bounded collect
    * above — one metadata-scale job); a broadcast-sized dictionary
    * takes the dense kernel path (measured 2.1x the postings join at
    * sf0.1 — the pair scoring collapses to one broadcast join over a
    * single corpus pass), anything larger falls back to the postings
    * join, the formulation that holds at unbounded vocabulary. Same
    * contract either way, scores bit-identical (SimilaritySpec
    * agreement test) — the q44 runtime-broadcast principle applied to
    * vocabulary size.
    *
    * The dense path is gated on the broadcast residents it creates
    * AND on its compute shape:
    *  - the dictionary (vocab collect, bounded by discoverVocab);
    *  - the probe matrix (probe rows ride to the driver as a
    *    FloatMatCosines literal) — maxProbeFloats caps probes × vocab
    *    (the probe count is one map-side-combined aggregate, no data
    *    to the driver);
    *  - the SCORING WORK: the dense kernel evaluates probes × corpus
    *    × vocab multiply-adds unconditionally, while the postings
    *    join's cost is the term-collision volume, which sparsity can
    *    make arbitrarily smaller. The sf10 scale step measured the
    *    failure: 100 disjoint token universes kept vocab (3100) and
    *    the probe literal (124 MB) inside the r6 budgets, but dense
    *    work hit 1.5e13 MACs — 840 s where the postings join does
    *    ~1.5e9 collision rows. maxDenseWork (16e9, ~10 s of one
    *    core's MACs) bounds it with corpus count × probe count ×
    *    vocab — three metadata-scale numbers. All gate outcomes
    *    produce bit-identical results (SimilaritySpec agreement). */
  def cosineTopKAdaptive(spark: SparkSession, dir: String, k: Int,
      maxVocab: Int = 4096, maxProbeFloats: Long = 32L * 1024 * 1024,
      maxDenseWork: Long = 16L * 1000 * 1000 * 1000): DataFrame = {
    val probe = gateProbe(spark, dir, maxVocab)
    probe.counts match {
      case None => cosineTopK(spark, dir, k)
      case Some((corpusCount, probeCount)) =>
        val vocab = probe.vocab
        val denseWork = probeCount * corpusCount * vocab.length
        if (probeCount * vocab.length <= maxProbeFloats && denseWork <= maxDenseWork)
          denseCosineTopK(spark, dir, k, vocab)
        else cosineTopK(spark, dir, k)
    }
  }

  /** Dense fast path for corpora whose term dictionary is broadcast-
    * sized (this corpus: 31 terms): densify each doc's count vector
    * over the gate's discovered `vocab` and score probe×doc pairs with
    * a codegen kernel — no postings shuffle at all. The postings join
    * (cosineTopK) remains the general path when the dictionary doesn't
    * fit; same contract, bit-identical scores (integer-valued counts
    * are exact in double). */
  private def denseCosineTopK(spark: SparkSession, dir: String, k: Int,
      vocab: Array[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
    val post = postings(spark, dir)
    // Densify through a broadcast word→idx join + primitive fill
    // kernel: the map-typed formulation (element_at per vocab slot)
    // was O(V·|doc words|) string compares per row — measured as the
    // entire q17 cost once the vocabulary grew past a few dozen terms.
    val vocabIdx = spark.createDataFrame(
      vocab.zipWithIndex.toSeq).toDF("word", "idx")
    val vecs = post.join(broadcast(vocabIdx), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("idx").cast("int").as("idx"),
        col("cnt").cast("long").as("cnt"))).as("pairs"))
      .select(col("doc_id"), exprCol(graft.functions.DenseFloatVec(
        expression(col("pairs")), vocab.length)).as("vec"))
    // Probe matrix as a kernel reference object, not a join side: the
    // old broadcast pair join materialized |probes|×|docs| rows each
    // carrying TWO float vectors — row weight, not arithmetic, was the
    // scale cost (measured 2.6x at sf1). One FloatMatCosines call per
    // doc row scores every probe in a primitive loop (bit-identical
    // per-pair op order) and the exploded pair stream carries only
    // (idx, cosine). Probe residency on the driver is the same
    // broadcast-sized contract the old path already required.
    val probeRows = vecs.filter(graft.Probes.isProbe(spark, col("doc_id")))
      .select(col("doc_id"), col("vec")).collect().sortBy(_.getLong(0))
    val probeIds = probeRows.map(_.getLong(0))
    val probeMat = probeRows.map(_.getSeq[Float](1).toArray)
    // constant-folded literal id array: element_at is an O(1) lookup
    val probeIdCol =
      if (probeIds.isEmpty) array().cast("array<bigint>")
      else array(probeIds.map(lit(_)): _*)
    val scored = vecs
      .select(col("doc_id").as("neighbor_doc"),
        posexplode(exprCol(graft.functions.FloatMatCosines(
          expression(col("vec")), probeMat))).as(Seq("pidx", "cosine")))
      .select(element_at(probeIdCol, col("pidx") + 1).as("probe_doc"),
        col("neighbor_doc"), col("cosine"))
      // the postings formulation only emits pairs sharing >=1 term
      // (inner join on word); drop zero-dot pairs and self-pairs to
      // keep the same contract here
      .filter(col("probe_doc") =!= col("neighbor_doc") && col("cosine") > 0.0)
    val w = Window.partitionBy(col("probe_doc"))
      .orderBy(col("cosine").desc, col("neighbor_doc").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_doc"), col("neighbor_doc"), col("rank"), col("cosine"))
  }

  /** q17 is ADAPTIVE on dictionary size, probe count, AND dense
    * scoring work (cosineTopKAdaptive): dense kernel when the
    * vocabulary and probe matrix are broadcast-sized and probes ×
    * corpus × vocab MACs fit the work budget (dense measured 5-6× the
    * postings join at sf1 — but 840 s vs ~250 s at sf10, where the
    * corpus is 100 disjoint token universes and sparsity is
    * everything); postings join — candidate pairs only from shared
    * terms, shuffle bounded by the term-collision volume, nothing
    * corpus-sized on the driver — for the general case. All gate
    * probes are themselves bounded (≤ maxVocab+1 words collect;
    * corpus/probe COUNTS via one aggregate), so no input shape makes
    * the gate unsafe. */
  def q17CosineTopK(spark: SparkSession, dir: String): DataFrame =
    cosineTopKAdaptive(spark, dir, 5)

  /** TF-IDF top terms per document — the keyword/feature-extraction
    * pass of corpus analysis (the weighting step the reference's
    * feature matrices imply before cosine scoring, tasks.py:384-464).
    *
    * The idf is INTEGER-SCALED instead of logarithmic:
    * idf = (10^6 * N) div df — a monotone transform of 1/df, so term
    * ordering within a document matches the classic tf*log(N/df) up to
    * log's extra damping, and the score is exact int64 arithmetic that
    * any engine reproduces bit-for-bit (ln() is not guaranteed
    * correctly-rounded across engines, which would break the oracle
    * hash for zero analytical gain here).
    *
    * Scale shape: postings groupBy for tf, a term-keyed groupBy for
    * df (map-side combinable), one equi-join postings⋈df, then the
    * per-doc top-k via the mergeable TopKAgg — the aggregate input per
    * group is one doc's distinct terms, the regime where the O(k)
    * typed buffer beats a window sort (see cosineTopK's note for the
    * opposite regime). Overflow audit — SELF-ENFORCED: idf <=
    * idfScale * N (worst case df = 1), so score = tf * idf can wrap
    * int64 once tf exceeds 2^63 / (idfScale * N). The operator
    * measures max(tf) (one map-side-combinable aggregate over the
    * postings it builds anyway) and REQUIRES
    * maxTf * idfScale * N < 2^62 before any score is computed, so the
    * unsafe regime fails fast with the mitigation in the message
    * instead of silently wrapping. Mitigation: shrink idfScale (10^3
    * buys three tf orders of magnitude; a constant factor never
    * reorders terms — callers must parameterize the oracle on the
    * same factor) or widen the score to decimal(38,0). The default
    * 10^6 is sized for the bench corpora (N <= 10^7 → safe to
    * tf ~ 4.6*10^4). */
  def q54TfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(spark, dir, 3, 1000000L)

  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int,
      idfScale: Long): DataFrame = {
    val post = postings(spark, dir)
      .withColumnRenamed("word", "term").withColumnRenamed("cnt", "tf")
    val docFreq = post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).count()
    val maxTf = Option(post.agg(max(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(BigInt(maxTf) * idfScale * n < (BigInt(1) << 62),
      s"q54 int64 score would overflow: max(tf)=$maxTf * idfScale=" +
        s"$idfScale * N=$n >= 2^62; shrink idfScale (term order is " +
        "invariant to the constant factor; re-parameterize the oracle " +
        "identically) or widen the score to decimal(38,0)")
    val scored = post.join(docFreq, "term")
      .withColumn("score", col("tf") * expr(s"(${idfScale * n}L div df)"))
    // order: score DESC, term ASC (total — (doc, term) rows are unique)
    val ord: Ordering[(Long, String, Long, Long)] =
      Ordering.by(t => (-t._1, t._2))
    val topk = udaf(new graft.functions.TopKAgg[(Long, String, Long, Long)](k, ord))
    scored.groupBy(col("doc_id"))
      .agg(topk(col("score"), col("term"), col("tf"), col("df")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("t._2").as("term"), col("t._3").as("tf"),
        col("t._4").as("df"), col("t._1").as("score"),
        (col("pos") + 1).cast("int").as("term_rank"))
  }

  /** Blended recommendations with the reference's full output shape
    * (get_similar_content, tasks.py:480-538): separate similarity /
    * popularity / combined score columns (alpha*cos, (1-alpha)*minmax
    * popularity), display-metadata join (lang/source — the wiki name /
    * vertical analogs), the `users > 0` junk filter (n_chars > 0
    * here), and the (combined DESC, users DESC) tie order with a
    * final id tiebreak for total determinism. Popularity = document
    * length; global min/max is a 1-row aggregate broadcast into the
    * score expression. */
  def q18WeightedRecs(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.7
    val beta = 0.3 // NOT 1 - alpha: 1.0 - 0.7 is 0.30000000000000004 in
    // binary, and the oracle SQL writes the literal 0.3.
    val docs = Tables.documents(spark, dir)
    val minMax = docs.agg(
      min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    val pop = docs
      .select(col("doc_id").as("neighbor_doc"), col("lang"), col("source"), col("n_chars"))
      .crossJoin(broadcast(minMax))
      .select(col("neighbor_doc"), col("lang"), col("source"), col("n_chars"),
        ((col("n_chars") - col("min_chars")).cast("double") /
          (col("max_chars") - col("min_chars"))).as("pop_norm"))
    val sim = cosineTopKAdaptive(spark, dir, 20)
    val scored = sim.join(pop, "neighbor_doc")
      .filter(col("n_chars") > 0) // reference: users > 0
      .withColumn("similarity_score", lit(alpha) * col("cosine"))
      .withColumn("popularity_score", lit(beta) * col("pop_norm"))
      .withColumn("combined_score", col("similarity_score") + col("popularity_score"))
    val w = Window.partitionBy(col("probe_doc"))
      .orderBy(col("combined_score").desc, col("n_chars").desc, col("neighbor_doc").asc)
    scored
      .withColumn("rec_rank", row_number().over(w))
      .filter(col("rec_rank") <= 5)
      .select(col("probe_doc"), col("neighbor_doc"), col("lang"), col("source"),
        col("n_chars"), col("similarity_score"), col("popularity_score"),
        col("combined_score"), col("rec_rank"))
  }

  /** q97: BM25 keyword retrieval — the lexical search half of a data
    * pipeline (candidate mining, contamination lookup, eval-set
    * retrieval). Ten deterministic queries are derived from the corpus
    * itself (the 30 highest-df terms in (df DESC, term ASC) order,
    * three consecutive terms per query), scored with the classic BM25
    * shape at k1 = 1.2, b = 0.75:
    *
    *   score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * re-expressed in exact int64 arithmetic so any engine reproduces
    * it bit-for-bit (same policy as q54: ln() is not correctly-rounded
    * across engines):
    *   idf      = (10³·N)  div df          (monotone 1/df surrogate)
    *   l_ppm    = (10⁶·dl·N) div A         (dl/avgdl in ppm; A=Σdl)
    *   term s   = (22·idf·tf·10⁵) div (10⁶·tf + 3·10⁵ + (9·l_ppm) div 10)
    * i.e. numerator and denominator of the BM25 fraction are both
    * scaled by 10⁶ (2.2 → 22·10⁵, 0.3 → 3·10⁵, 0.9 → 9/10 of ppm).
    * The summation over query terms is an integer sum — order-free.
    *
    * Overflow audit: 22·idf·tf·10⁵ wraps int64 at idf·tf > 4.2·10¹²;
    * query terms are TOP-df terms, so idf ≈ 10³·N/df stays small
    * (df ≥ N/10 on these corpora → idf ≤ 10⁴), safe to tf ~ 4·10⁸.
    * Worst-case df = 1 (never selected here) would bound tf by
    * 4.2·10¹²/10³N — shrink the idf scale if query terms are ever
    * user-supplied rare terms.
    *
    * Scale shape: one postings build (the q54 groupBy), dl/df as
    * map-side-combinable groupBys; the 30-term query table is a
    * driver-side collect of a vocab-ranked TakeOrdered (metadata-
    * sized, the vocab-gated-probe precedent) broadcast into the
    * postings join — the join prunes the postings stream to query
    * terms only BEFORE any shuffle; per-(query, doc) scores partial-
    * aggregate; the final top-10 per query is the mergeable TopKAgg
    * (10 queries × k rows leave each partition, no global sort). */
  def q97Bm25(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val post = postings(spark, dir)
      .withColumnRenamed("word", "term").withColumnRenamed("cnt", "tf")
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("a"), count(lit(1)).as("n")).head()
    val (a, n) = (tot.getLong(0), tot.getLong(1))
    val topTerms = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(30)
      .collect() // 30 rows — metadata-sized by construction
    import spark.implicits._
    val qterms = topTerms.zipWithIndex.map { case (r, i) =>
      (i.toLong / 3, r.getString(0), r.getLong(1))
    }.toSeq.toDF("qid", "term", "df")
    val scored = post.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .withColumn("s",
        expr(s"(22 * ((${1000L * n}L div df)) * tf * 100000) div " +
          s"(1000000 * tf + 300000 + (9 * ((${1000000L * n}L * dl) div ${a}L)) div 10)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s")).as("score"), count(lit(1)).as("matched"))
    val ord: Ordering[(Long, Long, Long)] = Ordering.by(t => (-t._1, t._2))
    val topk = udaf(new graft.functions.TopKAgg[(Long, Long, Long)](k, ord))
    scored.groupBy(col("qid"))
      .agg(topk(col("score"), col("doc_id"), col("matched")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t._2").as("doc_id"), col("t._1").as("score"),
        col("t._3").as("matched"), (col("pos") + 1).cast("int").as("rank"))
  }
}
