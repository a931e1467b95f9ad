package graft.queries

import graft.{NamedQuery, Tables}
import graft.operators.{Dedup, Pq, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-visible, HASH-GATED certificates for the APPROXIMATE operators
  * (SURVEY.md §2.10 + §2.5): each query computes the approximate result
  * AND its exact reference in the same plan, reduces the comparison to
  * sf-robust threshold checks, and returns deterministic
  * `(check, threshold, pass)` rows whose oracle is the constant expected
  * table — so the driver's DuckDB differential actually gates them
  * (pass=false on any regression ⇒ hash mismatch), instead of recording
  * rows-only results that nothing verifies.
  *
  * Thresholds are set with margin below the measured values at BOTH
  * sf0.01 and sf0.1 (e.g. IVF macro recall@5 measured 0.86/0.94 → gate
  * at 0.70), so the same constant oracle holds at the driver's sf0.01
  * gate and the sf0.1 scale sweep. The exact metric values (recall,
  * relative error, drift) remain asserted tightly in ScalaTest
  * (OperatorsSpec / FrequentItemsSpec / PhotometryCertSpec); these
  * queries are the driver-readable contract form.
  */
object RecallQueries {

  private def probes(s: SparkSession, d: String) =
    SharedAnn.probes(s, d)

  /** recall@5 per probe of one ANN result against the exact top-5. */
  private def topkRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("q_id"), col("vec_id"))
    val a = approx.select(col("q_id"), col("vec_id").as("a_vec"))
    e.join(a, e("q_id") === a("q_id") && col("vec_id") === col("a_vec"),
        "left_outer")
      .groupBy(e("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("a_vec")).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") / col("n_exact"), 6).as("recall"))
  }

  /** Per-probe recall rows → one summary row (n_probes / macro / min). */
  private def topkSummary(perProbe: DataFrame): DataFrame =
    perProbe.agg(count(lit(1)).as("n_probes"),
        sum(col("n_exact")).as("sum_exact"),
        sum(col("n_hit")).as("sum_hit"),
        min(col("recall")).as("min_recall"))
      .select(col("n_probes"), col("min_recall"),
        (col("sum_hit") / col("sum_exact")).as("macro_recall"))

  private final case class Cert(query: NamedQuery,
      summary: (SparkSession, String) => DataFrame)

  /** Build a certificate NamedQuery: `summary` yields ONE row; each check
    * is (name, threshold, pass-expression over the summary columns). The
    * oracle is the constant table the checks must hash-match. A null pass
    * (empty input edge) is surfaced as false, never silently dropped. */
  private def cert(name: String,
      summary: (SparkSession, String) => DataFrame,
      checks: (String, Double, Column)*): Cert = {
    val structs = checks.map { case (c, t, p) =>
      struct(lit(c).as("check"), lit(t).as("threshold"),
        coalesce(p, lit(false)).as("pass"))
    }
    Cert(NamedQuery(name,
      (s, d) => summary(s, d)
        .select(explode(array(structs: _*)).as("c"))
        .select(col("c.check").as("check"),
          col("c.threshold").as("threshold"), col("c.pass").as("pass")),
      Some(checks.map { case (c, t, _) => s"('$c', $t, true)" }
        .mkString(
          "SELECT \"check\", CAST(threshold AS DOUBLE) AS threshold, pass " +
            "FROM (VALUES ", ", ", ") AS t(\"check\", threshold, pass)"))),
      summary)
  }

  /** q95: IVF ANN (q71's exact result, [[SharedAnn.ivfResult]]) recall@5
    * vs the shared brute-force ground truth.
    * Measured macro recall 0.86 (sf0.01) / 0.94 (sf0.1), min probe 0.6. */
  private val q95 = cert(
    "q95_ann_ivf_recall",
    (s, d) => topkSummary(topkRecall(
      SharedAnn.exactTop5(s, d), SharedAnn.ivfResult(s, d))),
    ("ivf_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("ivf_macro_recall_at_5", 0.70, col("macro_recall") >= 0.70),
    ("ivf_min_probe_recall_at_5", 0.40, col("min_recall") >= 0.40))

  /** q96: sign-LSH ANN (q74's exact result, [[SharedAnn.lshResult]])
    * recall@5 vs the shared brute-force ground truth. Measured macro
    * 0.88 (sf0.01) / 0.86 (sf0.1), min probe 0.6. */
  private val q96 = cert(
    "q96_ann_lsh_recall",
    (s, d) => topkSummary(topkRecall(
      SharedAnn.exactTop5(s, d), SharedAnn.lshResult(s, d))),
    ("lsh_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("lsh_macro_recall_at_5", 0.70, col("macro_recall") >= 0.70),
    ("lsh_min_probe_recall_at_5", 0.40, col("min_recall") >= 0.40))

  /** q97: cell-partitioned near-dup pairs (q88's registered configuration,
    * Dedup.cellNearDupPairsAuto) vs the exact ground truth. Precision is
    * 1.0 by construction (every cell candidate is exact-verified against
    * the same threshold); recall is the cell/spill tradeoff being
    * certified — measured 1.000 (sf0.01) / 1.000 (sf0.1) / 0.993 (sf1).
    *
    * The exact arm is ANCHORED (Dedup.embeddingNearDupAnchored, cap
    * 4096): ground truth is every exact pair touching a deterministic
    * hash-anchor subset, computed in one n·cap broadcast scan, and the
    * approximate arm is restricted to the same anchor-touching pairs
    * before comparison. At the driver's sf0.01/sf0.1 gates every vector
    * is an anchor (n ≤ cap), so the certificate is byte-identical to the
    * full all-pairs form; past the first decade the all-pairs arm is
    * what stops being runnable (~28 min/rep at 200 k vectors — measured,
    * round 12), while the anchored arm keeps certification live at every
    * decade. */
  private val q97 = cert(
    "q97_neardup_cells_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      val exact = Dedup.embeddingNearDupAnchored(
          emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val cells = Dedup.cellNearDupPairsAuto(emb, "vec_id", "embedding", 0.45)
        .filter(Dedup.anchorTouches(n, col("id_a"), col("id_b")))
        .select(col("id_a"), col("id_b"), lit(1).as("hit"))
      exact.join(cells, Seq("id_a", "id_b"), "full_outer")
        .agg(count(lit(1)).as("n_union"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_cells"))
        .join(exact.agg(count(lit(1)).as("n_exact")))
    },
    ("neardup_cells_recall", 0.90,
      col("n_exact") === 0 || col("n_cells") / col("n_exact") >= 0.90),
    // union size == exact size ⇔ no false positives survived verification
    ("neardup_cells_precision", 1.0,
      col("n_union") === col("n_exact")))

  /** q98: HLL++ approx_count_distinct (q17b's aggregate) relative error vs
    * the exact distinct count. HLL merge is order-independent, so the
    * worst-group error is deterministic — measured max 0.086 (sf0.01) /
    * 0.064 (sf0.1) at the default 0.05 rsd, gated at 3σ ≈ 0.15. */
  private val q98 = cert(
    "q98_hll_rel_error",
    (s, d) => graft.operators.Scale.fanOut(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_orderkey")),
        "l_orderkey") // HLL merge is order-independent (scaladoc above);
                      // the exact distinct count trivially so — fanning
                      // out the unsplittable scan changes nothing (§2.5)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .agg(count(lit(1)).as("n_groups"),
        max(abs(col("approx_orders") - col("exact_orders")) /
          col("exact_orders")).as("max_rel_error")),
    ("hll_groups_nonempty", 1.0, col("n_groups") >= 1),
    ("hll_max_rel_error_le_0.15", 0.15, col("max_rel_error") <= 0.15))

  /** q99: SimHash chunk-banding (q63's candidate generator) recall vs the
    * exact all-pairs Hamming scan — the pigeonhole guarantee (≤3 differing
    * bits leave one 16-bit chunk intact) made driver-visible: recall must
    * be EXACTLY 1.0, so the gate is equality, not a tolerance. The
    * all-pairs reference is quadratic and exists ONLY as this
    * fixture-scale certificate; the banded path is the operator. */
  private val q99 = cert(
    "q99_simhash_band_recall",
    (s, d) => {
      // fan out the streamed side of the quadratic reference join: the
      // post-aggregation signature table coalesces to one tiny-bytes
      // partition, putting all n²/2 bit_count evaluations on one core
      // (guide §2.5; values are per-pair exact, partitioning-independent)
      val sigs = graft.operators.Scale.fanOut(
        Dedup.simhash(Tables.documents(s, d), "doc_id", "text"), "doc_id")
      val exact = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.simhash ^ b.simhash)") <= 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val banded = Dedup.simhashPairs(Tables.documents(s, d), "doc_id",
          "text", 3)
        .select(col("id_a"), col("id_b"), lit(1).as("hit"))
      exact.join(banded, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_banded"))
    },
    ("simhash_band_recall_exact", 1.0,
      col("n_exact") === 0 || col("n_banded") === col("n_exact")))

  /** q106: IVF with a TRAINED coarse quantizer (3 Lloyd rounds over
    * hash-seeded centroids, spill=2 redundant assignment) instead of the
    * fixture's label column — the cells track vector geometry, which is
    * what a 100 TB corpus without meaningful pre-clustering needs.
    * Measured macro recall 0.92 (sf0.01) / 0.84 (sf0.1), min probe 0.6. */
  private val q106 = cert(
    "q106_ann_ivf_trained_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cells = Similarity.trainCells(emb, "vec_id", "embedding",
        nCells = 16, iters = 3)
      val withCell = emb.select(col("vec_id"), col("embedding"))
        .join(cells, Seq("vec_id"))
      topkSummary(topkRecall(
        SharedAnn.exactTop5(s, d),
        Similarity.ivfTopK(withCell, "vec_id", "embedding", "cell",
          probes(s, d), "vec_id", "embedding", 5, 6, spill = 2)))
    },
    ("ivf_trained_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("ivf_trained_macro_recall_at_5", 0.75, col("macro_recall") >= 0.75),
    ("ivf_trained_min_probe_recall_at_5", 0.40, col("min_recall") >= 0.40))

  /** q109: approx_percentile (the quantile sketch) relative error vs the
    * exact percentile, per quartile of the lineitem price column — the
    * quantile member of the sketch family certificate (q98 covers HLL).
    * Greenwald–Khanna partial-sketch merges are not strictly
    * order-independent, so the raw approx values may differ (all
    * within-guarantee) across partition counts — which is exactly why the
    * gate is a threshold, not the values: measured max rel error 0.0015
    * at accuracy=1000, gated at 0.02. */
  private val q109 = cert(
    "q109_quantile_sketch_error",
    (s, d) => {
      val exact = expr(
        "percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("ex")
      val approx = expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000)")
        .as("ap")
      // deliberately DISTRIBUTED (no coalesce(1) fold): Greenwald–Khanna
      // partial merges are order-dependent, so the raw approx values can
      // vary across partition counts — but within the sketch's ε=1/1000
      // guarantee, and the registered rows are the constant
      // (check, threshold, pass) triples whose pass booleans carry a 13×
      // margin (measured max rel error 0.0015 vs the 0.02 gate), so the
      // accepted nondeterminism bound can never flip the gate. A
      // single-partition fold would make the values bit-stable but
      // serializes the whole column through one task — exactly the
      // anti-pattern at 100 TB, and this query is the sketch's scale
      // evidence.
      // fan out the unsplittable single-file scan before both aggregates
      // (guide §2.5): the exact percentile's partial map build is the
      // query's whole CPU and ran in ONE task. Hash-keyed on the value
      // column itself (deterministic); the approx sketch's accepted
      // within-guarantee partition-order nondeterminism is already this
      // cert's stated contract (see above), and the exact percentile is
      // order-independent.
      graft.operators.Scale.fanOut(
          Tables.lineitem(s, d).select(col("l_extendedprice")),
          "l_extendedprice")
        .agg(exact, approx)
        .select(explode(arrays_zip(col("ex"), col("ap"))).as("r"))
        .agg(count(lit(1)).as("n_quartiles"),
          max(abs(col("r.ap") - col("r.ex")) / abs(col("r.ex")))
            .as("max_rel_error"))
    },
    ("quantile_sketch_quartiles", 1.0, col("n_quartiles") === 3),
    ("quantile_sketch_max_rel_error_le_0.02", 0.02,
      col("max_rel_error") <= 0.02))

  /** q110: Misra–Gries heavy-hitters guarantee, driver-visible. The
    * sketch (k=50 counters, O(k) shuffle per group at any scale) must
    * contain EVERY token whose true frequency exceeds n/(k+1) — that
    * containment is order-independent even though individual sketch
    * counts are not, so the containment gate is deterministic. */
  private val q110 = cert(
    "q110_heavy_hitters",
    (s, d) => {
      import s.implicits._
      import graft.functions.{FrequentItems, TextFunctions}
      // pin the exploded token stream once: the sketch scan and the exact
      // reference both read the materialized blocks
      val toks = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .localCheckpoint()
      val k = 50
      val sketch: Map[String, Long] = toks.as[String]
        .select(new FrequentItems(k).toColumn).head()
      val exact = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count")).localCheckpoint()
      // n from the exact counts — no third pass over the stream
      val n = exact.agg(sum(col("exact_count"))).head().getLong(0)
      exact
        .filter(col("exact_count") > lit(n / (k + 1)))
        .agg(count(lit(1)).as("n_heavy"),
          min(when(col("tok").isInCollection(sketch.keys.toSeq), 1)
            .otherwise(0)).as("all_in_sketch"))
    },
    ("mg_heavy_hitters_nonempty", 1.0, col("n_heavy") >= 1),
    ("mg_containment", 1.0,
      col("n_heavy") === 0 || col("all_in_sketch") === 1))

  /** q127: INCREMENTAL IVF index maintenance certificate. A growing
    * corpus cannot rebuild its ANN index per batch: the index is built on
    * 75% of the embeddings, the remaining 25% arrives as two appended
    * micro-batches placed by the SAVED centroid model
    * (Similarity.appendIvfIndex — new files in existing cell partitions,
    * no history rewrite), then compacted. The gate compares macro
    * recall@5 of (a) the appended+compacted index and (b) a full rebuild
    * on the same final corpus, both against brute force — the drift cost
    * of append-only maintenance must stay bounded. Measured: appended
    * macro 0.82 (sf0.01) / 0.98 (sf0.1), drift +0.12 / −0.16. */
  private val q127 = cert(
    "q127_ann_ivf_append_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      // start from a file COPY of the shared 75 %-base build (PqSpec
      // proves build determinism, so copy ≡ identical rebuild) and
      // append into the copy — the shared artifact stays pristine
      val appended = SharedAnn.copyIndex(
        SharedAnn.baseIvfIndexDir(s, d), "graft_ivf_appended")
      Similarity.appendIvfIndex(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", appended, spill = 2)
      Similarity.appendIvfIndex(emb.filter(col("vec_id") % 8 === 4),
        "vec_id", "embedding", appended, spill = 2)
      val compacted = graft.TempDirs.create("graft_ivf_compacted")
      Similarity.compactIvfIndex(s, appended, compacted)
      // shared brute-force ground truth feeds BOTH recall summaries
      val exact = SharedAnn.exactTop5(s, d)
      val app = topkSummary(topkRecall(exact,
        Similarity.probeIvfIndex(s, compacted, probes(s, d), "vec_id",
          "embedding", 5, nprobe = 6)))
        .select(col("n_probes"), col("macro_recall").as("macro_appended"))
      // rebuilt arm = q112's registered probe of the shared full-corpus
      // build — the IDENTICAL computation, read once from the memo
      val reb = topkSummary(topkRecall(exact, SharedAnn.fullIvfProbe(s, d)))
        .select(col("macro_recall").as("macro_rebuilt"))
      app.join(reb)
    },
    ("ivf_append_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("ivf_append_macro_recall_at_5", 0.60, col("macro_appended") >= 0.60),
    ("ivf_append_macro_drift_le_0.30", 0.30,
      col("macro_rebuilt") - col("macro_appended") <= 0.30))

  /** q133: SemDeDup (cluster-partitioned semantic dedup — the operator
    * behind Dedup.semanticDedup, at its spill=2 config) vs the exact drop
    * set under the same threshold and keep-lowest-id rule. Every semantic
    * drop is exact-verified within its cell, so the drop set is a SUBSET
    * of the exact one — precision must be exactly 1.0; recall is the
    * price of confining comparisons to cells (|corpus|²/nCells work
    * instead of |corpus|²) — measured 0.786 (sf0.01) / 0.830 (sf0.1),
    * gated 0.50.
    *
    * Scale-true since round 13 on both axes, with gate rows unchanged at
    * the driver SFs: (a) the cell count is SIZED TO THE CORPUS
    * (max(8, ⌈n/2000⌉) — exactly the old fixed 8 at sf0.01/sf0.1, 100
    * cells at 200 k vectors, keeping the within-cell work linear), and
    * (b) both arms are restricted to the q97-style anchor-touching pairs
    * (at the driver SFs every vector is an anchor, so the drop sets are
    * byte-identical to the unanchored form; past the first decade the
    * exact arm stays one linear broadcast scan instead of the all-pairs
    * sweep that measured ~28 min/rep at sf10). */
  private val q133 = cert(
    "q133_semantic_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      val exact = Dedup.embeddingNearDupAnchored(
          emb, "vec_id", "embedding", 0.45)
        .select(col("id_b").as("drop_id")).distinct()
        .withColumn("ex", lit(1))
      val sem = Dedup.cellNearDupPairsAuto(emb, "vec_id", "embedding",
          0.45, spill = 2)
        .filter(Dedup.anchorTouches(n, col("id_a"), col("id_b")))
        .select(col("id_b").as("drop_id")).distinct()
        .withColumn("sm", lit(1))
      exact.join(sem, Seq("drop_id"), "full_outer")
        .agg(coalesce(sum(col("ex")), lit(0L)).as("n_exact"),
          coalesce(sum(col("sm")), lit(0L)).as("n_sem"),
          coalesce(sum(col("ex") * col("sm")), lit(0L)).as("n_inter"))
    },
    ("semdedup_precision_exact", 1.0, col("n_inter") === col("n_sem")),
    ("semdedup_recall", 0.50,
      col("n_exact") === 0 || col("n_inter") / col("n_exact") >= 0.50))

  /** q137: product-quantization certificate (q136_pq_topk's configuration). One
    * trained model backs both halves: (a) refined ADC recall@5 vs brute
    * force — the codes must shortlist well enough that the exact re-rank
    * recovers the true neighbors; (b) mean reconstruction error ‖v−v̂‖²
    * must beat the ~1.0 a trivial single-centroid quantizer leaves on
    * near-uniform unit vectors — the codebooks demonstrably learned the
    * corpus. */
  private val q137 = cert(
    "q137_pq_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      // ONE shared model backs q136's registered search, this recall
      // gate AND the reconstruction gate — the serving contract (train
      // once, search many) made literal
      val model = SharedAnn.pqModel(s, d)
      val summary = topkSummary(topkRecall(
        SharedAnn.exactTop5(s, d), SharedAnn.pqSearch(s, d)))
      val rec = Pq.reconstructionError(emb, "vec_id", "embedding", model)
        .agg(avg(col("sq_err")).as("mean_sq_err"))
      summary.join(rec)
    },
    ("pq_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("pq_refined_macro_recall_at_5", 0.65, col("macro_recall") >= 0.65),
    ("pq_refined_min_probe_recall_at_5", 0.40, col("min_recall") >= 0.40),
    ("pq_mean_reconstruction_err_le_0.90", 0.90,
      col("mean_sq_err") <= 0.90))

  /** q140: IVF-PQ certificate (q138's exact configuration — residual
    * encoding, spill=2 placement, refine=8 exact re-rank): recall@5 vs
    * brute force, macro measured 0.88 (sf0.01) / 0.66 (sf0.1), gated
    * with margin at 0.50. The residual-vs-raw advantage (0.66 vs 0.52 at
    * sf0.1) is asserted in PqSpec. */
  private val q140 = cert(
    "q140_ivfpq_recall",
    (s, d) => topkSummary(topkRecall(
      SharedAnn.exactTop5(s, d), SharedAnn.ivfPqResult(s, d))),
    ("ivfpq_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("ivfpq_macro_recall_at_5", 0.50, col("macro_recall") >= 0.50),
    ("ivfpq_min_probe_recall_at_5", 0.20, col("min_recall") >= 0.20))

  /** q142: INCREMENTAL IVF-PQ index maintenance certificate — q127's
    * drill for the PQ serving form. Index built on 75% of the corpus,
    * the remaining 25% appended as two micro-batches placed by the SAVED
    * centroids and residual-encoded under the FROZEN codebooks
    * (Pq.appendIvfPqIndex — new code files inside existing `cell=`
    * partitions), then compacted (I/O fold only; codes are valid only
    * under the codebooks that produced them). The gate compares macro
    * recall@5 of (a) the appended+compacted index and (b) a full rebuild
    * (retrained quantizers) on the same final corpus, both probed with
    * the refine re-rank against the source table — frozen-model drift
    * must stay bounded. Measured: appended macro 0.74 (sf0.01) / 0.76
    * (sf0.1), drift +0.14 / +0.02. */
  private val q142 = cert(
    "q142_ivfpq_append_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      // start from a file COPY of the shared 75 %-base build (q143 uses
      // the same base; build determinism is PqSpec-proven, so copy ≡
      // identical rebuild) and append into the copy — the shared
      // artifact stays pristine
      val appended = SharedAnn.copyIndex(
        SharedAnn.baseIvfPqIndexDir(s, d), "graft_ivfpq_appended")
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", appended, spill = 2)
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 4),
        "vec_id", "embedding", appended, spill = 2)
      val compacted = graft.TempDirs.create("graft_ivfpq_compacted")
      Pq.compactIvfPqIndex(s, appended, compacted)
      // shared brute-force ground truth feeds BOTH recall summaries
      val exact = SharedAnn.exactTop5(s, d)
      val app = topkSummary(topkRecall(exact,
        Pq.probeIvfPqIndex(s, compacted, probes(s, d), "vec_id",
          "embedding", 5, nprobe = 6,
          refineWith = Some((emb, "vec_id", "embedding")))))
        .select(col("n_probes"), col("macro_recall").as("macro_appended"))
      // rebuilt arm = q141's registered probe of the shared full-corpus
      // build — the IDENTICAL computation, read once from the memo
      val reb = topkSummary(topkRecall(exact,
        SharedAnn.fullIvfPqProbe(s, d)))
        .select(col("macro_recall").as("macro_rebuilt"))
      app.join(reb)
    },
    ("ivfpq_append_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("ivfpq_append_macro_recall_at_5", 0.50, col("macro_appended") >= 0.50),
    ("ivfpq_append_macro_drift_le_0.30", 0.30,
      col("macro_rebuilt") - col("macro_appended") <= 0.30))

  /** q145: OPQ certificate (Ge et al. CVPR 2013 — Pq.trainOpq's
    * alternation of rotated-space codebooks and the orthogonal-
    * Procrustes polar update, driver-side over the bounded pool). Four
    * gates: (a) the learned rotation is numerically orthogonal (max
    * |R·Rᵀ−I| ≤ 1e-8 — distances are exactly preserved, so ADC ranking
    * semantics are unchanged); (b) refined recall@5 vs brute force
    * clears the same 0.65 bar as plain PQ (measured 0.98/0.92 at
    * sf0.01/0.1 vs plain PQ's 0.96/0.84); (c) mean reconstruction error
    * is not worse than plain PQ's under the identical code budget
    * (measured ratio 0.84/0.94 — strictly better even on near-isotropic
    * fixtures; the planted anisotropic win is PqSpec's bar). */
  private val q145 = cert(
    "q145_opq_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val opq = SharedAnn.opqModel(s, d)
      val pqm = SharedAnn.pqModel(s, d)
      val r = opq.rotation
      val rotDev = (for (i <- r.indices; j <- r.indices) yield {
        var s2 = 0.0
        var k = 0
        while (k < r.length) { s2 += r(i)(k) * r(j)(k); k += 1 }
        math.abs(s2 - (if (i == j) 1.0 else 0.0))
      }).max
      val summary = topkSummary(topkRecall(
        SharedAnn.exactTop5(s, d),
        Pq.searchWithOpqModel(emb, "vec_id", "embedding",
          probes(s, d), "vec_id", "embedding", 5, opq, refine = 16)))
      // one map-only corpus pass computes BOTH quantizers' mean errors
      // (identical values to the former per-model encode+join scans —
      // Pq.quantizerErrors scaladoc)
      val errs = Pq.quantizerErrors(emb, "vec_id", "embedding", pqm, opq)
      summary.join(errs).withColumn("rot_dev", lit(rotDev))
    },
    ("opq_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("opq_rotation_orthogonal", 0.0, col("rot_dev") <= 1e-8),
    ("opq_refined_macro_recall_at_5", 0.65, col("macro_recall") >= 0.65),
    ("opq_err_not_worse_than_pq", 0.02,
      col("err_opq") <= col("err_pq") + 0.02))

  /** q149: on-disk OPQ-IVFPQ maintenance certificate — q142's drill
    * with the ROTATION as a third frozen sidecar: index built on 75 %
    * of the corpus with OPQ (q148's configuration), the remaining 25 %
    * appended as two micro-batches placed and residual-encoded under
    * the FROZEN (rotation, centroids, codebooks) triple, compacted
    * (which must carry the rotation), then probed with the refine
    * re-rank. The rebuilt arm is q148's shared full-corpus build
    * (fresh rotation + quantizers). Measured appended macro 0.80
    * (sf0.01) / 0.80 (sf0.1), drift +0.08 / −0.10 (the disk≡memory diff
    * is exactly 0 at both scales; `Probe cert q149_opq_index_append_recall`
    * prints the values) — gated at 0.50 / ≤ 0.30 with the family's usual
    * margin. */
  private val q149 = cert(
    "q149_opq_index_append_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val appended = SharedAnn.copyIndex(
        SharedAnn.opqBaseIvfPqIndexDir(s, d), "graft_opq_appended")
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", appended, spill = 2)
      Pq.appendIvfPqIndex(emb.filter(col("vec_id") % 8 === 4),
        "vec_id", "embedding", appended, spill = 2)
      val compacted = graft.TempDirs.create("graft_opq_compacted")
      Pq.compactIvfPqIndex(s, appended, compacted)
      val exact = SharedAnn.exactTop5(s, d)
      val app = topkSummary(topkRecall(exact,
        Pq.probeIvfPqIndex(s, compacted, probes(s, d), "vec_id",
          "embedding", 5, nprobe = 6,
          refineWith = Some((emb, "vec_id", "embedding")))))
        .select(col("n_probes"), col("macro_recall").as("macro_appended"))
      // rebuilt arm = q148's registered probe of the shared full-corpus
      // build — the IDENTICAL computation, read once from the memo
      val reb = topkSummary(topkRecall(exact,
        SharedAnn.opqFullIvfPqProbe(s, d)))
        .select(col("macro_recall").as("macro_rebuilt"))
      app.join(reb)
    },
    ("opq_index_probes_nonempty", 1.0, col("n_probes") >= 1),
    ("opq_index_macro_recall_at_5", 0.50, col("macro_appended") >= 0.50),
    ("opq_index_macro_drift_le_0.30", 0.30,
      col("macro_rebuilt") - col("macro_appended") <= 0.30))

  /** q184c: HELD-OUT accuracy of the q184 quality classifier — the
    * generalization claim q184's full-corpus gate cannot state on its
    * own: the model is trained on the 80% id-hash split
    * (TextOps.qualityModel — the SAME memoized weights q184 scores
    * with), and this certificate evaluates ONLY the 20% the SGD never
    * saw. `holdout_margin` additionally requires the worst held-out
    * good document to out-score the best held-out junk document —
    * a separation statement, not just a thresholded error rate.
    * Measured: accuracy 1.0 at sf0.01 and sf0.1 (closed-form separable
    * plant); gated at 0.99 with the family's usual margin. */
  private val q184c = cert(
    "q184c_quality_holdout",
    (s, d) => {
      val m = TextOps.qualityModel(s, d)
      TextOps.qualityLabeled(s, d)
        .filter(col("doc_id") % 10 >= 8)
        .select(col("label_good"),
          graft.operators.QualityModel.logitCol(col("toks"), m).as("z"))
        .agg(count(lit(1)).as("n_eval"),
          avg(when((col("z") > 0) === col("label_good"), 1.0)
            .otherwise(0.0)).as("accuracy"),
          min(when(col("label_good"), col("z"))).as("min_good"),
          max(when(!col("label_good"), col("z"))).as("max_junk"))
    },
    ("holdout_nonempty", 10.0, col("n_eval") >= 10),
    ("holdout_accuracy", 0.99, col("accuracy") >= 0.99),
    ("holdout_margin", 0.0, col("min_good") > col("max_junk")))

  private val certs =
    Seq(q95, q96, q97, q98, q99, q106, q109, q110, q127, q133, q137, q140,
      q142, q145, q149, q184c)

  val all: Seq[NamedQuery] = certs.map(_.query)

  /** Each certificate's one-row summary by query name: the measured
    * recall, drift and error values its checks threshold, before they
    * are reduced to pass booleans (`Probe cert <name>` prints it). */
  val summaries: Map[String, (SparkSession, String) => DataFrame] =
    certs.map(c => c.query.name -> c.summary).toMap
}
