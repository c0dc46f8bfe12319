package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster-level evaluation of a predicted entity clustering against gold
  * classes — the two standard ER clustering scores that pairwise F1
  * ([[PairwiseEval]]) does not capture:
  *
  *   - B-cubed precision/recall/F1 (Bagga & Baldwin 1998): per-doc
  *     precision = |pred-cluster ∩ gold-class| / |pred-cluster|, recall the
  *     analog over the gold class; averaged over docs. Unlike pairwise F1,
  *     B³ rewards singletons correctly and is not dominated by the largest
  *     cluster (quadratic pair counts).
  *   - V-measure (Rosenberg & Hirschberg 2007): homogeneity = 1 − H(G|C)/
  *     H(G), completeness = 1 − H(C|G)/H(C), V = their harmonic mean —
  *     the information-theoretic view; insensitive to cluster-count
  *     mismatch direction.
  *
  * Scale shape: everything reduces over the (cluster, gold) CONTINGENCY
  * cells — one keyed aggregation from the doc frame, then two marginal
  * aggregations and scalar sums. Per-doc contributions are regrouped
  * algebraically (Σ_docs |c∩g|/|c| = Σ_cells n_cg²/n_c), so no per-doc
  * frame survives past the first groupBy and nothing is ever collected but
  * the final 1-row result. Docs missing from either side are excluded
  * (inner join) — score labeled data only.
  */
object ClusterEval {

  /** One-row metrics frame: n_docs, b3_precision, b3_recall, b3_f1,
    * homogeneity, completeness, v_measure (floats rounded to 6).
    * `pred` needs (url, cluster_id), `gold` needs (url, gold_id).
    * Degenerate entropies follow the published convention: H(G) = 0 (one
    * gold class) → homogeneity 1; H(C) = 0 → completeness 1.
    */
  def metricsDf(pred: DataFrame, gold: DataFrame): DataFrame = {
    val cell = pred
      .join(gold, "url")
      .groupBy("cluster_id", "gold_id")
      .agg(count(lit(1)).as("n_cg"))
    val cs = cell.groupBy("cluster_id").agg(sum("n_cg").as("n_c"))
    val gs = cell.groupBy("gold_id").agg(sum("n_cg").as("n_g"))
    val withMargins = cell
      .join(cs, "cluster_id")
      .join(gs, "gold_id")
    // every term is a function of the cell and its two marginals; the
    // doc-level averages fold into cell-level sums (n_cg² / marginal)
    val agg = withMargins.agg(
      sum(col("n_cg")).as("n"),
      sum(col("n_cg") * col("n_cg") / col("n_c")).as("p_sum"),
      sum(col("n_cg") * col("n_cg") / col("n_g")).as("r_sum"),
      // H(G|C)·N = -Σ n_cg · ln(n_cg/n_c); H(C|G)·N = -Σ n_cg · ln(n_cg/n_g)
      (-sum(col("n_cg") * log(col("n_cg") / col("n_c")))).as("hgc_n"),
      (-sum(col("n_cg") * log(col("n_cg") / col("n_g")))).as("hcg_n")
    )
    val hc = cs.agg((-sum(col("n_c") * log(col("n_c")))).as("hc_part"), sum(col("n_c")).as("nc_tot"))
    val hg = gs.agg((-sum(col("n_g") * log(col("n_g")))).as("hg_part"), sum(col("n_g")).as("ng_tot"))
    // H(C)·N = -Σ n_c ln(n_c/N) = hc_part + N·ln(N); same for H(G)·N
    val out = agg
      .crossJoin(broadcast(hc))
      .crossJoin(broadcast(hg))
      .select(
        col("n").cast("long").as("n_docs"),
        (col("p_sum") / col("n")).as("p"),
        (col("r_sum") / col("n")).as("r"),
        (col("hgc_n") / col("n")).as("hgc"),
        (col("hcg_n") / col("n")).as("hcg"),
        ((col("hc_part") + col("n") * log(col("n"))) / col("n")).as("hcx"),
        ((col("hg_part") + col("n") * log(col("n"))) / col("n")).as("hgx")
      )
      .select(
        col("n_docs"),
        col("p"),
        col("r"),
        when(col("p") + col("r") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .as("f1"),
        when(col("hgx") <= 0.0, lit(1.0)).otherwise(lit(1.0) - col("hgc") / col("hgx")).as("hom"),
        when(col("hcx") <= 0.0, lit(1.0)).otherwise(lit(1.0) - col("hcg") / col("hcx")).as("com")
      )
      .select(
        col("n_docs"),
        round(col("p"), 6).as("b3_precision"),
        round(col("r"), 6).as("b3_recall"),
        round(col("f1"), 6).as("b3_f1"),
        round(col("hom"), 6).as("homogeneity"),
        round(col("com"), 6).as("completeness"),
        round(
          when(col("hom") + col("com") === 0.0, lit(0.0))
            .otherwise(lit(2.0) * col("hom") * col("com") / (col("hom") + col("com"))),
          6
        ).as("v_measure")
      )
    out
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) — the chance-corrected pair
    * agreement score, the third standard clustering metric next to B³ and
    * V-measure: ARI = (Index − E[Index]) / (MaxIndex − E[Index]) with
    * Index = Σ_cells C(n_cg,2), E[Index] = Σ_c C(n_c,2)·Σ_g C(n_g,2) /
    * C(n,2), MaxIndex = (Σ_c C(n_c,2) + Σ_g C(n_g,2)) / 2. Random labelings
    * score ~0, perfect agreement 1; can go negative (worse than chance).
    *
    * Same scale shape as [[metricsDf]]: one contingency-cell aggregation,
    * two marginals, a 1-row result — the combinatorial sums are exact
    * integer arithmetic until the two final divisions. Degenerate
    * denominator (both partitions trivial — all singletons or one block on
    * each side) means Index == E[Index] == MaxIndex; the published
    * convention (sklearn) scores that 1.0.
    *
    * Output: one row (n_docs, ari), ari rounded to 6.
    */
  def ariDf(pred: DataFrame, gold: DataFrame): DataFrame = {
    val cell = pred
      .join(gold, "url")
      .groupBy("cluster_id", "gold_id")
      .agg(count(lit(1)).as("n_cg"))
    // `div` (integral floor-division), not `/ 2`: Divide promotes to double,
    // so a per-cell or marginal pair count past 2^53 would silently lose
    // exactness — the documented contract is exact integer combinatorics
    // down to the two final divisions (n(n-1) is always even, so div 2 is
    // exact)
    val idx = cell.agg(
      sum(expr("n_cg * (n_cg - 1) div 2")).cast("long").as("index"),
      sum(col("n_cg")).cast("long").as("n")
    )
    val aS = cell
      .groupBy("cluster_id")
      .agg(sum("n_cg").as("n_c"))
      .agg(sum(expr("n_c * (n_c - 1) div 2")).cast("long").as("a"))
    val bS = cell
      .groupBy("gold_id")
      .agg(sum("n_cg").as("n_g"))
      .agg(sum(expr("n_g * (n_g - 1) div 2")).cast("long").as("b"))
    idx
      .crossJoin(broadcast(aS))
      .crossJoin(broadcast(bS))
      .select(
        col("n").as("n_docs"),
        expr("n * (n - 1) div 2").as("np"),
        col("index").cast("double").as("i"),
        col("a").cast("double").as("a"),
        col("b").cast("double").as("b")
      )
      .select(
        col("n_docs"),
        round(
          when(col("np") === 0L, lit(1.0)).otherwise {
            val exp = col("a") * col("b") / col("np").cast("double")
            val den = (col("a") + col("b")) / 2.0 - exp
            when(den === 0.0, lit(1.0)).otherwise((col("i") - exp) / den)
          },
          6
        ).as("ari")
      )
  }

  /** Per-cluster diagnostics — the over-merge audit an operator reads
    * before trusting transitive closure: a cluster whose edge DENSITY is
    * far below 1 was chained together through a few bridges (candidate
    * for [[graft.operators.CorrelationClustering]] repair), and its
    * `min_score` names the weakest link that did it. The reference's only
    * analog is eyeballing per-mention LLM answers; this is the queryable
    * form.
    *
    * `assignments` needs (url, cluster_id) — every url, singletons
    * included; `edges` the accepted intra-cluster pair frame
    * (urlA, urlB, score) the clustering was built from (by the CC
    * contract both endpoints share a cluster, so one endpoint join
    * suffices).
    *
    * Output per cluster: n_members, n_edges (0 for singletons),
    * density = n_edges / (n(n−1)/2) (null for singletons — undefined,
    * not 1.0), min_score / max_score (null when edgeless). All values
    * are single divisions of exact counts or min/max of input scores —
    * no accumulation-order sensitivity anywhere.
    *
    * Scale shape: one keyed aggregation of the edges per urlA (count,
    * min, max), one left join of that onto `assignments` — read once —
    * and one aggregation per cluster_id; output is one row per cluster.
    * The giant-component hub this report exists to catch lands on one
    * aggregation key — partial map-side combine absorbs it (counts/min/max,
    * not row collection).
    */
  def diagnostics(assignments: DataFrame, edges: DataFrame): DataFrame = {
    val perUrl = edges
      .groupBy(col("urlA").as("url"))
      .agg(count(lit(1)).as("_e"), min("score").as("_lo"), max("score").as("_hi"))
    assignments
      .join(perUrl, Seq("url"), "left")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        coalesce(sum("_e"), lit(0L)).as("n_edges"),
        min("_lo").as("min_score"),
        max("_hi").as("max_score")
      )
      .select(
        col("cluster_id"),
        col("n_members"),
        col("n_edges"),
        when(col("n_members") > 1, col("n_edges") * 2.0 / (col("n_members") * (col("n_members") - 1))).as("density"),
        col("min_score"),
        col("max_score")
      )
  }
}
