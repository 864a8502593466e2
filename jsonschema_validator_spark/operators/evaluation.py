"""Offline evaluation screens — scoring a quality/classifier column
against outcome labels: rank-based ROC-AUC (Mann-Whitney), calibration
bins, and two-proportion A/B z-tests.
These are the gates behind "did the new quality scorer actually rank
good documents higher" and "did arm B convert better than arm A".

Reference parity note: outside the reference validator's scope
(macisamuele/jsonschema-validator validates keywords); this is the
training-data-pipeline tier of SURVEY.md §2, same family as
agreement/preference.

Scale: every operator reduces the raw table with ONE map-side-
combinable aggregation before anything per-row-order happens. ROC-AUC
aggregates to the O(groups x distinct-scores) relation FIRST and only
then runs its cumulative-rank window over that reduced relation — the
window never sees raw rows, so a 10^12-row input with a few thousand
distinct scores sorts a few thousand rows per group. Calibration and
the A/B test are single groupBy aggregations with pure-arithmetic
finishes (no second pass, no collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def roc_auc(
    df: DataFrame,
    score: str,
    label: str,
    group: str | None = None,
) -> DataFrame:
    """Per-group ROC-AUC of ``score`` against boolean/0-1 ``label``.

    Exact Mann-Whitney form with midrank tie handling:
    AUC = (R+ - n+(n+ + 1)/2) / (n+ * n-), where R+ is the sum of
    average ranks (ascending score) of the positive rows. Ties share
    their block's midrank, so a constant score yields AUC = 0.5, not a
    rank-order artifact. Rows with NULL score or label are excluded
    (an unscored or unlabeled row is not evidence). Degenerate groups
    (no positives or no negatives) yield NULL auc via try_divide.

    Returns (group?, n, n_pos, n_neg, auc), auc rounded to 6.
    """
    gcols = [group] if group else []
    labeled = df.filter(F.col(score).isNotNull() & F.col(label).isNotNull()).select(
        *gcols,
        F.col(score).cast("double").alias("__s"),
        F.col(label).cast("int").alias("__y"),
    )
    # ONE aggregation to the distinct-score relation; the window below
    # runs on this reduced table only.
    blocks = labeled.groupBy(*gcols, "__s").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").alias("__np"),
    )
    w = (
        Window.partitionBy(*gcols).orderBy("__s")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("__s")
    )
    ranked = blocks.withColumn(
        "__before", F.coalesce(F.sum("__n").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    ).withColumn(
        "__midrank", F.col("__before") + (F.col("__n") + 1) / 2.0
    )
    agg = ranked.groupBy(*gcols).agg(
        F.sum("__n").alias("n"),
        F.sum("__np").alias("n_pos"),
        F.sum(F.col("__np") * F.col("__midrank")).alias("__rpos"),
    )
    n_pos = F.col("n_pos").cast("double")
    n_neg = (F.col("n") - F.col("n_pos")).cast("double")
    u = F.col("__rpos") - n_pos * (n_pos + 1) / 2.0
    return agg.select(
        *gcols,
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.round(F.try_divide(u, n_pos * n_neg), 6).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score: str,
    label: str,
    n_bins: int = 10,
    group: str | None = None,
) -> DataFrame:
    """Reliability-diagram bins for a probability-like ``score`` in
    [0, 1] against boolean/0-1 ``label``.

    Bin b = min(floor(score * n_bins), n_bins - 1) (the closed top edge
    lands 1.0 in the last bin). Returns one row per (group?, bin):
    (bin, n, mean_score, pos_rate, gap) where gap = pos_rate -
    mean_score — the signed per-bin miscalibration. NULL score/label
    rows are excluded. Empty bins simply don't appear (downstream ECE
    weights by n, so an absent bin contributes 0 exactly).
    """
    gcols = [group] if group else []
    labeled = df.filter(F.col(score).isNotNull() & F.col(label).isNotNull()).select(
        *gcols,
        F.col(score).cast("double").alias("__s"),
        F.col(label).cast("int").alias("__y"),
    )
    b = F.least(F.floor(F.col("__s") * n_bins), F.lit(n_bins - 1)).cast("int")
    per = labeled.groupBy(*gcols, b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__s").alias("__ms"),
        F.avg(F.col("__y").cast("double")).alias("__pr"),
    )
    return per.select(
        *gcols,
        "bin",
        "n",
        F.round("__ms", 6).alias("mean_score"),
        F.round("__pr", 6).alias("pos_rate"),
        F.round(F.col("__pr") - F.col("__ms"), 6).alias("gap"),
    )


def ab_test(
    df: DataFrame,
    arm: str,
    converted: str,
    group: str | None = None,
    control: str = "A",
    treatment: str = "B",
) -> DataFrame:
    """Two-proportion z-test per group between two named arms.

    ``converted`` is boolean/0-1. Rows in other arms or with NULL
    conversion are excluded. z = (p_t - p_c) / sqrt(p(1-p)(1/n_c +
    1/n_t)) with p the pooled rate; a degenerate pooled rate (0 or 1)
    or an empty arm yields NULL z via try_divide — a test with no
    variance has no z-score, and hiding that behind 0 would read as
    "no effect". One aggregation; the finish is pure arithmetic.

    Returns (group?, n_control, n_treatment, rate_control,
    rate_treatment, lift, z), rates/lift/z rounded to 6.
    """
    gcols = [group] if group else []
    armed = df.filter(
        F.col(arm).isin(control, treatment) & F.col(converted).isNotNull()
    ).select(
        *gcols,
        F.col(arm).alias("__arm"),
        F.col(converted).cast("int").alias("__c"),
    )
    is_c = F.col("__arm") == control
    agg = armed.groupBy(*gcols).agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(~is_c, 1).otherwise(0)).alias("n_treatment"),
        F.sum(F.when(is_c, F.col("__c")).otherwise(0)).alias("__xc"),
        F.sum(F.when(~is_c, F.col("__c")).otherwise(0)).alias("__xt"),
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    pc = F.try_divide(F.col("__xc"), nc)
    pt = F.try_divide(F.col("__xt"), nt)
    pooled = F.try_divide(F.col("__xc") + F.col("__xt"), nc + nt)
    se = F.sqrt(pooled * (1 - pooled) * (F.try_divide(F.lit(1.0), nc) + F.try_divide(F.lit(1.0), nt)))
    return agg.select(
        *gcols,
        "n_control",
        "n_treatment",
        F.round(pc, 6).alias("rate_control"),
        F.round(pt, 6).alias("rate_treatment"),
        F.round(pt - pc, 6).alias("lift"),
        F.round(F.try_divide(pt - pc, F.when(se > 0, se)), 6).alias("z"),
    )


def isotonic_calibration(
    df: DataFrame,
    score: str,
    label: str,
    group: str | None = None,
) -> DataFrame:
    """Isotonic (PAV) calibration map per group — the non-parametric
    upgrade of :func:`calibration_bins`: instead of fixed decile bins,
    pool-adjacent-violators fits the best monotone-increasing
    probability curve (L2), which is what production score
    recalibration actually deploys.

    Scale shape: rows reduce by ONE (group, score) aggregation to
    integer-count blocks (n, sum_label) — the only full-data shuffle;
    the inherently sequential PAV merge then runs Arrow-batched per
    group over the O(distinct scores) block relation with a simple
    stack (the changepoint.py escape-hatch contract). Every fitted
    value is an exact ratio of integer sums, so the independent
    minimax characterization fitted(i) = max_{j<=i} min_{k>=i}
    mean(y[j..k]) replays it bit-for-bit in SQL.

    Rows with NULL score or label are excluded. Returns one row per
    (group?, score): (score, n, pos, p_cal), p_cal rounded to 6 and
    non-decreasing in score within each group.
    """
    import pandas as pd

    gcols = [group] if group else []
    blocks = (
        df.filter(F.col(score).isNotNull() & F.col(label).isNotNull())
        .groupBy(*gcols, F.col(score).cast("double").alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label).cast("long")).alias("pos"),
        )
    )

    def _pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("s").reset_index(drop=True)
        # stack of [n, pos, span] merged blocks; merge while the mean
        # would decrease (violating monotonicity)
        stack: list[list[int]] = []
        for n_i, p_i in zip(pdf["n"], pdf["pos"]):
            cur = [int(n_i), int(p_i), 1]
            while stack and stack[-1][1] * cur[0] >= cur[1] * stack[-1][0]:
                top = stack.pop()
                cur = [top[0] + cur[0], top[1] + cur[1], top[2] + cur[2]]
            stack.append(cur)
        fitted = []
        for n_b, p_b, span in stack:
            fitted.extend([p_b / n_b] * span)
        pdf["p_cal"] = fitted
        return pdf

    out_schema = ", ".join(
        ([f"{group} string"] if group else [])
        + ["s double", "n bigint", "pos bigint", "p_cal double"]
    )
    if group:
        fitted = blocks.groupBy(group).applyInPandas(_pav, schema=out_schema)
    else:
        fitted = blocks.groupBy().applyInPandas(_pav, schema=out_schema)
    return fitted.select(
        *gcols,
        F.col("s").alias(score),
        "n",
        "pos",
        F.round("p_cal", 6).alias("p_cal"),
    )


def ndcg(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """nDCG@k per query — the ranking-quality metric that closes the
    retrieval loop (bm25 / tfidf / rrf_fuse produce rankings; this
    scores them against graded relevance): DCG@k =
    sum_{i<=k} (2^rel_i - 1) / log2(i + 1) over the SCORE ordering,
    normalized by the same sum over the IDEAL (relevance-sorted)
    ordering, so 1.0 means "ranked exactly as well as possible" and
    the graded numerator rewards putting highly-relevant documents
    earliest.

    Both orderings break ties by document id, so the metric is a pure
    function of the data (a score tie can't flap the rank between
    runs or engines). Queries with NO relevant candidate have
    idcg = 0 -> ndcg NULL (excluded from averages rather than scored
    1.0 or 0.0 — an empty truth set is unmeasurable, not perfect).
    Two row_number windows per query over the O(candidates) relation;
    NULL scores rank last, NULL relevance counts as 0. Returns
    (query, n_docs, dcg, idcg, ndcg), floats rounded to 6.
    """
    from pyspark.sql import Window

    rel = F.coalesce(F.col(rel_col).cast("double"), F.lit(0.0))
    d = df.select(
        F.col(query_col).alias("q"),
        F.col(doc_col).alias("doc"),
        F.col(score_col).alias("score"),
        rel.alias("rel"),
    )
    w_score = Window.partitionBy("q").orderBy(
        F.col("score").desc_nulls_last(), F.col("doc")
    )
    w_ideal = Window.partitionBy("q").orderBy(
        F.col("rel").desc(), F.col("doc")
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1.0
    ranked = d.withColumn("__r", F.row_number().over(w_score)).withColumn(
        "__ri", F.row_number().over(w_ideal)
    )
    agg = ranked.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("__r") <= k, gain / F.log2(F.col("__r") + 1.0))
        ).alias("__dcg"),
        F.sum(
            F.when(F.col("__ri") <= k, gain / F.log2(F.col("__ri") + 1.0))
        ).alias("__idcg"),
    )
    dcg = F.coalesce(F.col("__dcg"), F.lit(0.0))
    idcg = F.coalesce(F.col("__idcg"), F.lit(0.0))
    return agg.select(
        F.col("q").alias("query"),
        "n_docs",
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.round(F.when(idcg > 0, dcg / idcg), 6).alias("ndcg"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank the population by model
    score, cut into ``n_bins`` equal bins, and report what fraction of
    all positives each cumulative top-k% captures — the operational
    reading of a ranking model ("review the top 20% of documents and
    catch 71% of the policy violations") that a single AUC number
    can't give, and the curve whose sag pinpoints WHERE the ranking
    degrades.

    Binning is ntile over (score DESC, id) — the id tie-break makes
    the table a pure function of the data (equal scores can't flap
    across bins between runs or engines). NULL scores rank last
    (worst); NULL labels count as negative. Cumulative sums run over
    the O(n_bins) aggregated relation. Returns one row per bin:
    (bin, n, positives, cum_positives, capture_rate, lift) with lift =
    (positives/n) / (total_positives/total_n), floats rounded to 6.
    """
    from pyspark.sql import Window

    lab = F.coalesce(F.col(label_col).cast("int"), F.lit(0))
    w = Window.orderBy(F.col(score_col).desc_nulls_last(), F.col(id_col))
    binned = df.select(
        F.ntile(n_bins).over(w).alias("bin"), lab.alias("__y")
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("positives")
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = F.sum("positives").over(w_cum)
    tot_p = F.sum("positives").over(w_all)
    tot_n = F.sum("n").over(w_all)
    return agg.select(
        "bin",
        "n",
        "positives",
        cum.alias("cum_positives"),
        F.round(F.when(tot_p > 0, cum / tot_p), 6).alias("capture_rate"),
        F.round(
            F.when(
                tot_p > 0,
                (F.col("positives") / F.col("n"))
                / (tot_p / tot_n.cast("double")),
            ),
            6,
        ).alias("lift"),
    ).orderBy("bin")


def brier_decomposition(
    df: DataFrame,
    score: str,
    label: str,
    group: str | None = None,
) -> DataFrame:
    """Murphy decomposition of the Brier score over DISTINCT forecast
    values: brier = reliability - resolution + uncertainty, which holds
    EXACTLY when bins are the distinct scores (binned variants leave a
    within-bin variance remainder; calibration_bins reports that view).

    reliability — how far each forecast value sits from its observed
    event rate (0 is perfectly calibrated); resolution — how much the
    per-forecast event rates spread around the base rate (higher =
    the score actually sorts outcomes); uncertainty — base-rate
    variance, the floor no scorer can beat.

    One groupBy reduces rows to the O(distinct scores) block relation
    (labels are 0/1 so sum(y^2) = sum(y)); totals ride a window over
    that reduced relation, never the raw rows. Every component is a
    ratio of integer-weighted sums — exactly replayable in SQL.
    Returns one row (per group): (n, brier, reliability, resolution,
    uncertainty, identity_gap) with identity_gap pinned ~0 as the
    internal consistency proof. NULL scores/labels are excluded.
    """
    g = F.col(group) if group else F.lit("all")
    d = df.filter(F.col(score).isNotNull() & F.col(label).isNotNull()).select(
        g.alias("g"),
        F.col(score).cast("double").alias("p"),
        F.col(label).cast("double").alias("y"),
    )
    blocks = d.groupBy("g", "p").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("s_k")
    )
    w = Window.partitionBy("g")
    b = blocks.select(
        "g",
        "p",
        "n_k",
        "s_k",
        F.sum("n_k").over(w).alias("n"),
        F.sum("s_k").over(w).alias("s"),
    )
    out = b.groupBy("g", "n", "s").agg(
        F.sum(
            F.col("n_k") * F.col("p") * F.col("p")
            - 2 * F.col("p") * F.col("s_k")
            + F.col("s_k")
        ).alias("se"),
        F.sum(
            F.col("n_k")
            * F.pow(F.col("p") - F.col("s_k") / F.col("n_k"), F.lit(2.0))
        ).alias("rel"),
        F.sum(
            F.col("n_k")
            * F.pow(F.col("s_k") / F.col("n_k") - F.col("s") / F.col("n"), F.lit(2.0))
        ).alias("res"),
    )
    ybar = F.col("s") / F.col("n")
    return out.select(
        F.col("g").alias("part"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("se") / F.col("n"), 6).alias("brier"),
        F.round(F.col("rel") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res") / F.col("n"), 6).alias("resolution"),
        F.round(ybar * (1 - ybar), 6).alias("uncertainty"),
        F.abs(
            F.round(
                F.col("se") / F.col("n")
                - (
                    F.col("rel") / F.col("n")
                    - F.col("res") / F.col("n")
                    + ybar * (1 - ybar)
                ),
                6,
            )
            + F.lit(0.0)  # IEEE -0.0 + 0.0 = +0.0: engines disagree on abs(-0.0)
        ).alias("identity_gap"),
    )


def retrieval_metrics(
    ranked: DataFrame,
    truth: DataFrame,
    k: int = 10,
    qid: str = "qid",
    doc: str = "doc_id",
    rank: str = "rank",
) -> DataFrame:
    """Binary-relevance retrieval battery per query: MRR, precision@k,
    recall@k, and AP@k (average precision) — the standard quartet
    beside evaluation.ndcg's graded view. ``ranked`` carries one row
    per (query, candidate) with a 1-based rank; ``truth`` the relevant
    (query, doc) pairs.

    All four metrics are conditional aggregates over the rank-capped
    join of the two relations — the shuffled relation is
    O(queries x k) + O(truth), never corpus-sized. AP@k follows the
    TREC convention: sum of precision-at-each-relevant-hit / min(k,
    n_relevant). Queries with no relevant docs return NULL metrics
    (unmeasurable, never 0 or 1 — the ndcg contract). Returns
    (qid, n_relevant, hits_at_k, mrr, precision_at_k, recall_at_k,
    ap_at_k).
    """
    r = ranked.select(
        F.col(qid).alias("q"), F.col(doc).alias("d"), F.col(rank).alias("r")
    ).filter(F.col("r") <= k)
    t = truth.select(F.col(qid).alias("q"), F.col(doc).alias("d")).distinct()
    nrel = t.groupBy("q").agg(F.count(F.lit(1)).alias("n_relevant"))
    j = r.join(t.withColumn("rel", F.lit(1)), ["q", "d"], "left").select(
        "q", "r", F.coalesce(F.col("rel"), F.lit(0)).alias("rel")
    )
    # precision at each rank needs the running relevant count in rank order
    wr = Window.partitionBy("q").orderBy("r")
    j = j.withColumn("cum_rel", F.sum("rel").over(wr))
    per_q = j.groupBy("q").agg(
        F.sum("rel").alias("hits_at_k"),
        F.max(F.when(F.col("rel") == 1, 1.0 / F.col("r"))).alias("best_rr"),
        F.sum(
            F.when(F.col("rel") == 1, F.col("cum_rel") / F.col("r")).otherwise(0.0)
        ).alias("ap_num"),
    )
    return (
        nrel.join(per_q, "q", "left")
        .select(
            F.col("q").alias("qid"),
            "n_relevant",
            F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("long").alias("hits_at_k"),
            F.round(F.coalesce(F.col("best_rr"), F.lit(0.0)), 6).alias("mrr"),
            F.round(F.coalesce(F.col("hits_at_k"), F.lit(0)) / float(k), 6).alias(
                "precision_at_k"
            ),
            F.round(
                F.coalesce(F.col("hits_at_k"), F.lit(0)) / F.col("n_relevant"), 6
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(F.col("ap_num"), F.lit(0.0))
                / F.least(F.lit(float(k)), F.col("n_relevant").cast("double")),
                6,
            ).alias("ap_at_k"),
        )
    )


def split_conformal_coverage(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    is_calib: Column,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction audit — the distribution-free
    coverage guarantee check for a per-group point predictor: fit the
    predictor on the CALIBRATION slice (here the per-group calibration
    mean), take the nonconformity scores s_i = |y_i - yhat(group_i)|
    on that same slice, and set the conformal radius to the exact
    k-th smallest calibration score with

        k = ceil((n_cal + 1) * (1 - alpha))

    (the finite-sample-valid quantile — NOT the interpolated
    percentile). Split conformal then guarantees the EVAL-slice
    interval yhat +/- q covers at least 1 - alpha of future points if
    the slices are exchangeable; the audit measures the realized
    coverage so a broken guarantee (drift between slices) surfaces as
    coverage < 1 - alpha.

    Scale shape: group means are one groupBy; the exact k-th order
    statistic comes from distinct-SCORE blocks with a cumulative count
    window — O(distinct scores) window state, never a global sort or
    row_number over the raw table. Eval rows join the broadcast
    (group -> mean) map and the broadcast scalar radius. Groups with
    no calibration rows are excluded from eval (no predictor exists;
    reported in n_eval_skipped). Returns one row: (n_calib, n_eval,
    n_eval_skipped, alpha, target, q_hat, coverage, mean_width),
    floats rounded to 6.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    base = df.filter(vcol.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        vcol.cast("double").alias("y"),
        is_calib.alias("c"),
    )
    means = base.filter("c").groupBy("g").agg(
        F.avg("y").alias("yhat"), F.count(F.lit(1)).alias("n_g")
    )
    cal = base.filter("c").join(F.broadcast(means), "g").select(
        F.abs(F.col("y") - F.col("yhat")).alias("s")
    )
    blocks = cal.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(F.lit(1)).orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = blocks.select("s", F.sum("cnt").over(w).alias("cum"))
    n_cal = cal.agg(F.count(F.lit(1)).alias("n_calib"))
    k_expr = F.ceil((F.col("n_calib") + 1) * (1.0 - alpha)).cast("long")
    picked = (
        cum.crossJoin(F.broadcast(n_cal))
        .filter(F.col("cum") >= F.least(k_expr, F.col("n_calib")))
        .agg(F.min("s").alias("q_hat"))
    )
    ev = base.filter(~F.col("c"))
    n_ev_all = ev.agg(F.count(F.lit(1)).alias("__n_all"))
    scored = ev.join(F.broadcast(means.select("g", "yhat")), "g").crossJoin(
        F.broadcast(picked)
    )
    out = (
        scored.agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.avg(
                (F.abs(F.col("y") - F.col("yhat")) <= F.col("q_hat")).cast(
                    "double"
                )
            ).alias("__cov"),
            F.max("q_hat").alias("__q"),
        )
        .crossJoin(F.broadcast(n_cal))
        .crossJoin(F.broadcast(n_ev_all))
    )
    return out.select(
        "n_calib",
        "n_eval",
        (F.col("__n_all") - F.col("n_eval")).alias("n_eval_skipped"),
        F.round(F.lit(alpha), 6).alias("alpha"),
        F.round(F.lit(1.0 - alpha), 6).alias("target"),
        F.round(F.col("__q"), 6).alias("q_hat"),
        F.round(F.col("__cov"), 6).alias("coverage"),
        F.round(2.0 * F.col("__q"), 6).alias("mean_width"),
    )


def youden_threshold(
    df: DataFrame,
    score: Column | str,
    label: Column,
) -> DataFrame:
    """Optimal operating point on the ROC curve — Youden's J =
    max_t (TPR(t) - FPR(t)) — the one-number answer to "where do I
    set the quality-score cutoff": roc_auc summarizes ranking skill
    across ALL thresholds, this picks the single threshold the gate
    should ship with, plus the confusion counts realized there.

    The ROC sweep never materializes per-row ranks: scores reduce to
    distinct-value blocks with (pos, neg) counts; one DESCENDING
    cumulative window gives TP/FP at the rule "predict positive when
    score >= t" for every candidate t; J is an argmax over that
    O(distinct scores) relation, tie-broken to the HIGHEST threshold
    (strictest gate). Returns one row: (n_pos, n_neg, threshold,
    tp, fp, fn, tn, tpr, fpr, j), floats rounded to 6; a single-class
    input yields NULL threshold/J.
    """
    scol = F.col(score) if isinstance(score, str) else score
    base = df.filter(scol.isNotNull() & label.isNotNull()).select(
        scol.cast("double").alias("s"), label.cast("boolean").alias("y")
    )
    blocks = base.groupBy("s").agg(
        F.sum(F.col("y").cast("long")).alias("p"),
        F.sum((~F.col("y")).cast("long")).alias("q"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = blocks.select(
        "s",
        F.sum("p").over(w).alias("tp"),
        F.sum("q").over(w).alias("fp"),
    )
    tot = cum.agg(
        F.max("tp").alias("n_pos"), F.max("fp").alias("n_neg")
    )
    j = cum.crossJoin(F.broadcast(tot))
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    jstat = F.col("tp") / npos - F.col("fp") / nneg
    best = j.select(
        "n_pos",
        "n_neg",
        F.struct(
            F.round(jstat, 12).alias("j"),
            F.col("s").alias("s"),
            F.col("tp").alias("tp"),
            F.col("fp").alias("fp"),
        ).alias("cand"),
    ).groupBy("n_pos", "n_neg").agg(F.max("cand").alias("best"))
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return best.select(
        "n_pos",
        "n_neg",
        F.when(ok, F.col("best.s")).alias("threshold"),
        F.when(ok, F.col("best.tp")).alias("tp"),
        F.when(ok, F.col("best.fp")).alias("fp"),
        F.when(ok, F.col("n_pos") - F.col("best.tp")).alias("fn"),
        F.when(ok, F.col("n_neg") - F.col("best.fp")).alias("tn"),
        F.when(ok, F.round(F.col("best.tp") / npos, 6)).alias("tpr"),
        F.when(ok, F.round(F.col("best.fp") / nneg, 6)).alias("fpr"),
        F.when(
            ok,
            F.round(F.col("best.tp") / npos - F.col("best.fp") / nneg, 6)
            + 0.0,
        ).alias("j"),
    )


def cuped(
    df: DataFrame,
    arm: str,
    pre: str,
    post: str,
    control,
    treatment,
    group: str | None = None,
    min_n: int = 8,
) -> DataFrame:
    """CUPED variance-reduced A/B comparison of a continuous metric
    (Deng, Xu, Kohavi & Walker, WSDM 2013 — public paper): adjust each
    unit's post-period metric by its PRE-period covariate,

        y_cv = y - theta (x - xbar),   theta = cov(x, y) / var(x)

    (theta pooled over both arms — under randomization the covariate
    is arm-independent, and a pooled theta keeps the estimator
    unbiased), then run the ordinary two-sample z on the adjusted
    metric. The adjusted variance is var(y) (1 - rho^2): a pre/post
    correlation of 0.7 halves the sample needed for the same power —
    which is why every large experimentation platform runs this
    adjustment by default.

    Input contract: ONE ROW PER UNIT (user / conversation), already
    reduced — build it with a per-unit aggregation first so the
    operator's own aggregation is over the small unit relation. The
    fit is one groupBy over sums/products (map-side combinable, no
    UDF); all test algebra runs on the O(groups) aggregate.

    Emits raw and adjusted lifts and z-scores side-by-side plus theta,
    the pooled pre/post correlation rho, and the realized variance
    reduction 1 - se_cv^2 / se_raw^2 (~= rho^2); NULL pre or post
    drops the unit (complete-case, stated). Groups where var(x) = 0
    emit theta NULL and the raw test unchanged (adjusted == raw).

    Returns (group?, n_control, n_treatment, lift_raw, z_raw, theta,
    rho, lift_cuped, z_cuped, var_reduction).
    """
    x = F.col(pre).cast("double")
    y = F.col(post).cast("double")
    a = F.col(arm).cast("string")
    base = df.filter(
        x.isNotNull() & y.isNotNull() & a.isin([str(control), str(treatment)])
    )
    keys = [F.col(group).alias("g")] if group else []
    is_t = (a == str(treatment)).cast("int")

    def _arm(agg_expr, side):
        cond = F.col("__t") == side
        return F.sum(F.when(cond, agg_expr))

    tagged = base.select(*keys, is_t.alias("__t"), x.alias("__x"), y.alias("__y"))
    agg = tagged.groupBy(*([F.col("g")] if group else [])).agg(
        *[
            e.alias(n)
            for side, tag in ((0, "c"), (1, "t"))
            for n, e in (
                (f"n_{tag}", _arm(F.lit(1.0), side)),
                (f"sx_{tag}", _arm(F.col("__x"), side)),
                (f"sy_{tag}", _arm(F.col("__y"), side)),
                (f"sxx_{tag}", _arm(F.col("__x") * F.col("__x"), side)),
                (f"syy_{tag}", _arm(F.col("__y") * F.col("__y"), side)),
                (f"sxy_{tag}", _arm(F.col("__x") * F.col("__y"), side)),
            )
        ]
    )
    n_c, n_t = F.col("n_c"), F.col("n_t")
    n = n_c + n_t
    sx = F.col("sx_c") + F.col("sx_t")
    sy = F.col("sy_c") + F.col("sy_t")
    sxx = F.col("sxx_c") + F.col("sxx_t")
    syy = F.col("syy_c") + F.col("syy_t")
    sxy = F.col("sxy_c") + F.col("sxy_t")
    # pooled (whole-sample) moments for theta/rho
    var_x = sxx / n - (sx / n) * (sx / n)
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    theta = F.when(var_x > 0, cov / var_x)
    rho = F.when((var_x > 0) & (var_y > 0), cov / F.sqrt(var_x * var_y))
    xbar = sx / n

    def _stats(tag):
        nn = F.col(f"n_{tag}")
        mx = F.col(f"sx_{tag}") / nn
        my = F.col(f"sy_{tag}") / nn
        vy = (F.col(f"syy_{tag}") - nn * my * my) / (nn - 1)
        vx = (F.col(f"sxx_{tag}") - nn * mx * mx) / (nn - 1)
        cxy = (F.col(f"sxy_{tag}") - nn * mx * my) / (nn - 1)
        return nn, mx, my, vy, vx, cxy

    nc, mxc, myc, vyc, vxc, cxyc = _stats("c")
    nt, mxt, myt, vyt, vxt, cxyt = _stats("t")
    lift_raw = myt - myc
    se2_raw = vyt / nt + vyc / nc
    z_raw = F.when(se2_raw > 0, lift_raw / F.sqrt(se2_raw))
    th = F.coalesce(theta, F.lit(0.0))
    adj_t = (myt - th * (mxt - xbar)) - (myc - th * (mxc - xbar))
    v_adj_c = vyc - 2 * th * cxyc + th * th * vxc
    v_adj_t = vyt - 2 * th * cxyt + th * th * vxt
    se2_cv = v_adj_t / nt + v_adj_c / nc
    z_cv = F.when(se2_cv > 0, adj_t / F.sqrt(se2_cv))
    vr = F.when(se2_raw > 0, 1.0 - se2_cv / se2_raw)
    cols = []
    if group:
        cols.append(F.col("g").alias(group))
    cols += [
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(lift_raw, 6).alias("lift_raw"),
        F.round(z_raw, 6).alias("z_raw"),
        F.round(theta, 6).alias("theta"),
        F.round(rho, 6).alias("rho"),
        F.round(adj_t, 6).alias("lift_cuped"),
        F.round(z_cv, 6).alias("z_cuped"),
        F.round(vr, 6).alias("var_reduction"),
    ]
    return agg.filter((nc >= min_n) & (nt >= min_n)).select(*cols)


def mde_two_proportion(
    df: DataFrame,
    arm: str,
    outcome: str,
    control,
    treatment,
    group: str | None = None,
    z_alpha: float = 1.96,
    z_beta: float = 0.8416,
) -> DataFrame:
    """Experiment-design honesty check for a two-proportion test: at
    the CURRENT arm sizes, what lift could this experiment actually
    detect (MDE), and how many units per arm would the OBSERVED lift
    need (required_n_per_arm)? An ab_test "no significant difference"
    with MDE 5x the observed lift is an underpowered experiment, not
    evidence of no effect — this screen makes that distinction a
    column instead of a judgment call.

        mde = (z_alpha + z_beta) * sqrt(p(1-p)(1/n_c + 1/n_t))
        required_n = (z_alpha + z_beta)^2 (p_c q_c + p_t q_t) / lift^2

    with p the pooled rate. z constants are caller-pinned (defaults:
    two-sided 5% / 80% power — a Column plan cannot invert the normal
    CDF, same contract as every pinned critical in this engine).
    ``powered`` = |observed lift| >= mde. A zero observed lift yields
    NULL required_n (no effect to size for); a degenerate pooled rate
    (0 or 1) yields NULL mde.

    Same input contract and single aggregation as ab_test — run them
    side by side on the same armed relation. Returns (group?,
    n_control, n_treatment, rate_control, rate_treatment, lift, mde,
    powered, required_n_per_arm).
    """
    a = F.col(arm).cast("string")
    y = F.col(outcome).cast("double")
    base = df.filter(
        y.isNotNull() & a.isin([str(control), str(treatment)])
    )
    keys = [F.col(group).alias("g")] if group else []
    is_t = (a == str(treatment)).cast("int")
    agg = base.select(*keys, is_t.alias("t"), y.alias("y")).groupBy(
        *([F.col("g")] if group else [])
    ).agg(
        F.sum(F.when(F.col("t") == 0, 1.0)).alias("n_c"),
        F.sum(F.when(F.col("t") == 1, 1.0)).alias("n_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y"))).alias("x_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y"))).alias("x_t"),
    )
    n_c, n_t = F.col("n_c"), F.col("n_t")
    p_c = F.col("x_c") / n_c
    p_t = F.col("x_t") / n_t
    pool = (F.col("x_c") + F.col("x_t")) / (n_c + n_t)
    lift = p_t - p_c
    zsum = z_alpha + z_beta
    mde = F.when(
        (pool > 0) & (pool < 1),
        zsum * F.sqrt(pool * (1 - pool) * (1.0 / n_c + 1.0 / n_t)),
    )
    req = F.when(
        F.abs(lift) > 0,
        zsum * zsum * (p_c * (1 - p_c) + p_t * (1 - p_t)) / (lift * lift),
    )
    cols = []
    if group:
        cols.append(F.col("g").alias(group))
    cols += [
        n_c.cast("long").alias("n_control"),
        n_t.cast("long").alias("n_treatment"),
        F.round(p_c, 6).alias("rate_control"),
        F.round(p_t, 6).alias("rate_treatment"),
        F.round(lift, 6).alias("lift"),
        F.round(mde, 6).alias("mde"),
        F.when(mde.isNotNull(), F.abs(lift) >= mde).alias("powered"),
        F.round(F.ceil(req), 1).cast("long").alias("required_n_per_arm"),
    ]
    return agg.filter((n_c > 0) & (n_t > 0)).select(*cols)


def delta_method_ratio_test(
    df: DataFrame,
    arm: str,
    num: str,
    den: str,
    control,
    treatment,
    group: str | None = None,
    min_n: int = 8,
) -> DataFrame:
    """Two-sample test for a RATIO-OF-SUMS metric with delta-method
    standard errors (Deng, Knoblich & Lu, KDD 2018 — the "metrics are
    ratios, units are users" problem): clicks/views, violations/turns,
    revenue/sessions. The naive per-row test is wrong because rows
    within a unit are correlated; the unit-level ratio-of-means R =
    sum(num)/sum(den) is right but its variance needs the delta
    method:

        var(R) ~= ( var(x) - 2 R cov(x, y) + R^2 var(y) )
                  / ( n * ybar^2 )

    per arm, with (x, y) the per-UNIT numerator/denominator. This is
    the exact-form twin of jackknife_events' resampled SE (same
    estimand; closed form instead of leave-one-out replicates).

    Input contract: ONE ROW PER UNIT, already reduced (build with a
    per-unit aggregation first). One aggregation of sums/products per
    arm; algebra on the O(groups) aggregate. Units with NULL num/den
    or den contributing zero to an arm are handled by the sums
    themselves (a zero-denominator ARM yields NULL ratio).

    Returns (group?, n_control, n_treatment, ratio_control,
    ratio_treatment, lift, se_control, se_treatment, z).
    """
    a = F.col(arm).cast("string")
    x = F.col(num).cast("double")
    y = F.col(den).cast("double")
    base = df.filter(
        x.isNotNull() & y.isNotNull()
        & a.isin([str(control), str(treatment)])
    )
    keys = [F.col(group).alias("g")] if group else []
    is_t = (a == str(treatment)).cast("int")
    tagged = base.select(*keys, is_t.alias("t"), x.alias("x"), y.alias("y"))
    agg = tagged.groupBy(*([F.col("g")] if group else [])).agg(
        *[
            e.alias(n_)
            for side, tag in ((0, "c"), (1, "t"))
            for n_, e in (
                (f"n_{tag}", F.sum(F.when(F.col("t") == side, 1.0))),
                (f"sx_{tag}", F.sum(F.when(F.col("t") == side, F.col("x")))),
                (f"sy_{tag}", F.sum(F.when(F.col("t") == side, F.col("y")))),
                (
                    f"sxx_{tag}",
                    F.sum(
                        F.when(F.col("t") == side, F.col("x") * F.col("x"))
                    ),
                ),
                (
                    f"syy_{tag}",
                    F.sum(
                        F.when(F.col("t") == side, F.col("y") * F.col("y"))
                    ),
                ),
                (
                    f"sxy_{tag}",
                    F.sum(
                        F.when(F.col("t") == side, F.col("x") * F.col("y"))
                    ),
                ),
            )
        ]
    )

    def _side(tag):
        n = F.col(f"n_{tag}")
        mx = F.col(f"sx_{tag}") / n
        my = F.col(f"sy_{tag}") / n
        vx = (F.col(f"sxx_{tag}") - n * mx * mx) / (n - 1)
        vy = (F.col(f"syy_{tag}") - n * my * my) / (n - 1)
        cxy = (F.col(f"sxy_{tag}") - n * mx * my) / (n - 1)
        r = F.when(F.col(f"sy_{tag}") != 0, F.col(f"sx_{tag}") / F.col(f"sy_{tag}"))
        var_r = (vx - 2 * r * cxy + r * r * vy) / (n * my * my)
        return n, r, F.when(var_r >= 0, F.sqrt(var_r))

    n_c, r_c, se_c = _side("c")
    n_t, r_t, se_t = _side("t")
    z = F.when(
        (se_c * se_c + se_t * se_t) > 0,
        (r_t - r_c) / F.sqrt(se_c * se_c + se_t * se_t),
    )
    cols = []
    if group:
        cols.append(F.col("g").alias(group))
    cols += [
        n_c.cast("long").alias("n_control"),
        n_t.cast("long").alias("n_treatment"),
        F.round(r_c, 6).alias("ratio_control"),
        F.round(r_t, 6).alias("ratio_treatment"),
        F.round(r_t - r_c, 6).alias("lift"),
        F.round(se_c, 6).alias("se_control"),
        F.round(se_t, 6).alias("se_treatment"),
        F.round(z, 6).alias("z"),
    ]
    return agg.filter((n_c >= min_n) & (n_t >= min_n)).select(*cols)


def srm_check(
    df: DataFrame,
    arm: str,
    expected: dict[str, float],
    group: str | None = None,
    chi2_crit: float = None,
) -> DataFrame:
    """Sample-ratio-mismatch gate: chi-square goodness-of-fit of the
    OBSERVED arm allocation against the DESIGNED split. The single
    most common way a "significant" experiment result is garbage is
    that the assignment itself broke (a crashing variant drops its
    own users, a bot filter eats one arm) — and any metric comparison
    on a mismatched sample is invalid regardless of its p-value.
    Experimentation platforms run this gate before showing ANY result;
    so should a validation engine.

        chi2 = sum_arms (obs - exp)^2 / exp,  df = arms - 1

    ``expected`` maps arm label -> designed fraction (must sum to ~1).
    The critical value defaults from the pinned df 1..10 chi-square
    table; rows with arms outside ``expected`` are counted in
    n_unexpected (an unknown arm label is itself an assignment bug)
    but excluded from the statistic. ONE aggregation; algebra on
    O(groups) rows. Returns (group?, n_total, n_unexpected, chi2,
    chi2_crit, srm) — srm True means DO NOT read the experiment.
    """
    fracs = {str(k): float(v) for k, v in expected.items()}
    if not fracs or abs(sum(fracs.values()) - 1.0) > 1e-6:
        raise ValueError("expected fractions must sum to 1")
    if len(fracs) < 2:
        raise ValueError("need at least two arms")
    _CHI2 = [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
             15.507, 16.919, 18.307]
    crit = chi2_crit if chi2_crit is not None else _CHI2[len(fracs) - 2]
    a = F.col(arm).cast("string")
    keys = [F.col(group).alias("g")] if group else []
    agg = df.select(*keys, a.alias("a")).groupBy(
        *([F.col("g")] if group else [])
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_all"),
        F.sum(F.col("a").isin(list(fracs)).cast("int"))
        .cast("double")
        .alias("n_known"),
        *[
            F.sum((F.col("a") == lbl).cast("int"))
            .cast("double")
            .alias(f"o_{i}")
            for i, lbl in enumerate(fracs)
        ],
    )
    chi2 = None
    for i, (lbl, frac) in enumerate(fracs.items()):
        exp = F.col("n_known") * frac
        term = (F.col(f"o_{i}") - exp) * (F.col(f"o_{i}") - exp) / exp
        chi2 = term if chi2 is None else chi2 + term
    chi2 = F.when(F.col("n_known") > 0, chi2)
    cols = []
    if group:
        cols.append(F.col("g").alias(group))
    cols += [
        F.col("n_known").cast("long").alias("n_total"),
        (F.col("n_all") - F.col("n_known")).cast("long").alias("n_unexpected"),
        F.round(chi2, 6).alias("chi2"),
        F.lit(crit).alias("chi2_crit"),
        F.coalesce(chi2 > crit, F.lit(True)).alias("srm"),
    ]
    return agg.select(*cols)


def post_stratified_test(
    df: DataFrame,
    arm: str,
    stratum: str,
    outcome: str,
    control,
    treatment,
    min_cell: int = 2,
) -> DataFrame:
    """Post-stratified A/B comparison — the categorical sibling of
    CUPED: reweight each arm's per-stratum means by the POOLED stratum
    distribution, so a chance imbalance in a covariate (traffic
    source, language, device) stops leaking into the lift:

        mean_post = sum_s w_s * mean(y | arm, s),
        w_s = n_s / n        (both arms pooled)
        var_post = sum_s w_s^2 * var(y | arm, s) / n_{arm, s}

    The adjusted z tests the same lift with the stratum-mix noise
    removed; ``imbalance`` (max over strata of |share_t - share_c|)
    says how much mix difference there was to remove. Strata where
    either arm has < ``min_cell`` rows are dropped from BOTH sides
    (weights renormalized implicitly by using the kept-pool total) —
    a one-arm stratum has no within-cell contrast to reweight.

    ONE shuffle to the (stratum, arm) cell relation; everything after
    runs on O(strata) rows. Returns one row: (n_control, n_treatment,
    n_strata, lift_raw, lift_post, se_post, z_post, imbalance).
    """
    a = F.col(arm).cast("string")
    y = F.col(outcome).cast("double")
    base = df.filter(
        y.isNotNull() & a.isin([str(control), str(treatment)])
    ).select(
        F.col(stratum).alias("s"),
        (a == str(treatment)).cast("int").alias("t"),
        y.alias("y"),
    )
    cells = base.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    piv = cells.groupBy("s").agg(
        F.max(F.when(F.col("t") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("t") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("t") == 0, F.col("m"))).alias("m_c"),
        F.max(F.when(F.col("t") == 1, F.col("m"))).alias("m_t"),
        F.max(F.when(F.col("t") == 0, F.col("v"))).alias("v_c"),
        F.max(F.when(F.col("t") == 1, F.col("v"))).alias("v_t"),
    ).filter((F.col("n_c") >= min_cell) & (F.col("n_t") >= min_cell))
    # per-stratum arm shares (windows over the O(strata) relation,
    # never raw rows) so the final rollup can take max |share gap|
    w_all = Window.partitionBy()
    piv = piv.withColumn(
        "sh_gap",
        F.abs(
            F.col("n_t") / F.sum("n_t").over(w_all)
            - F.col("n_c") / F.sum("n_c").over(w_all)
        ),
    )
    tot = piv.agg(
        F.sum("n_c").alias("N_c"),
        F.sum("n_t").alias("N_t"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum((F.col("n_c") + F.col("n_t")) * F.col("m_c")).alias("wm_c"),
        F.sum((F.col("n_t") + F.col("n_c")) * F.col("m_t")).alias("wm_t"),
        F.sum(
            (F.col("n_c") + F.col("n_t")) * (F.col("n_c") + F.col("n_t"))
            * F.col("v_c") / F.col("n_c")
        ).alias("wv_c"),
        F.sum(
            (F.col("n_c") + F.col("n_t")) * (F.col("n_c") + F.col("n_t"))
            * F.col("v_t") / F.col("n_t")
        ).alias("wv_t"),
        F.sum(F.col("n_c") * F.col("m_c")).alias("sraw_c"),
        F.sum(F.col("n_t") * F.col("m_t")).alias("sraw_t"),
        F.max("sh_gap").alias("imbalance"),
    )
    n_pool = F.col("N_c") + F.col("N_t")
    mean_c = F.col("wm_c") / n_pool
    mean_t = F.col("wm_t") / n_pool
    var_c = F.col("wv_c") / (n_pool * n_pool)
    var_t = F.col("wv_t") / (n_pool * n_pool)
    lift_post = mean_t - mean_c
    se = F.sqrt(var_c + var_t)
    return tot.select(
        F.col("N_c").cast("long").alias("n_control"),
        F.col("N_t").cast("long").alias("n_treatment"),
        "n_strata",
        F.round(
            F.col("sraw_t") / F.col("N_t") - F.col("sraw_c") / F.col("N_c"), 6
        ).alias("lift_raw"),
        F.round(lift_post, 6).alias("lift_post"),
        F.round(se, 6).alias("se_post"),
        F.when(se > 0, F.round(lift_post / se, 6)).alias("z_post"),
        F.round("imbalance", 6).alias("imbalance"),
    )


def smd_balance(
    df: DataFrame,
    arm: str,
    covariates: list[str],
    control,
    treatment,
    smd_cut: float = 0.1,
) -> DataFrame:
    """Standardized-mean-difference covariate balance table — the
    diagnostic that decides whether a between-arm comparison is an
    experiment or an observational study in disguise:

        SMD = (mean_t - mean_c) / sqrt( (var_t + var_c) / 2 )

    per covariate, with the conventional |SMD| > 0.1 imbalance flag
    (Austin 2009 — public epidemiology literature; the cut is
    caller-pinned). Unlike a t-test on the covariate, SMD is sample-
    size-free: at n = 10^9 every covariate "significantly" differs,
    but only SMD says whether the difference is big enough to
    confound. Run it BEFORE ab_test/cuped; if rows flag, reach for
    post_stratified_test / mantel_haenszel instead of trusting the
    raw lift.

    One aggregation computing per-arm sums/squares for ALL covariates
    at once (2 x 3 x C conditional sums, map-side combinable — C
    covariates cost one scan, not C). NULL covariate values are
    excluded per-covariate (complete-case per column, stated).

    Returns one row per covariate: (covariate, n_control,
    n_treatment, mean_control, mean_treatment, sd_pooled, smd,
    imbalanced).
    """
    if not covariates:
        raise ValueError("covariates must be non-empty")
    a = F.col(arm).cast("string")
    base = df.filter(a.isin([str(control), str(treatment)])).select(
        (a == str(treatment)).cast("int").alias("t"),
        *[F.col(c).cast("double").alias(c) for c in covariates],
    )
    aggs = []
    for c in covariates:
        x = F.col(c)
        for side, tag in ((0, "c"), (1, "t")):
            cond = (F.col("t") == side) & x.isNotNull()
            aggs += [
                F.coalesce(F.sum(F.when(cond, 1.0)), F.lit(0.0)).alias(
                    f"n_{tag}_{c}"
                ),
                F.sum(F.when(cond, x)).alias(f"s_{tag}_{c}"),
                F.sum(F.when(cond, x * x)).alias(f"ss_{tag}_{c}"),
            ]
    agg = base.agg(*aggs)
    rows = []
    for c in covariates:
        nc, nt = F.col(f"n_c_{c}"), F.col(f"n_t_{c}")
        mc = F.col(f"s_c_{c}") / nc
        mt = F.col(f"s_t_{c}") / nt
        vc = (F.col(f"ss_c_{c}") - nc * mc * mc) / (nc - 1)
        vt = (F.col(f"ss_t_{c}") - nt * mt * mt) / (nt - 1)
        sdp = F.sqrt((vc + vt) / 2.0)
        smd = F.when((nc > 1) & (nt > 1) & (sdp > 0), (mt - mc) / sdp)
        rows.append(
            F.struct(
                F.lit(c).alias("covariate"),
                nc.cast("long").alias("n_control"),
                nt.cast("long").alias("n_treatment"),
                F.round(mc, 6).alias("mean_control"),
                F.round(mt, 6).alias("mean_treatment"),
                F.round(sdp, 6).alias("sd_pooled"),
                F.round(smd, 6).alias("smd"),
                F.when(smd.isNotNull(), F.abs(smd) > smd_cut).alias(
                    "imbalanced"
                ),
            )
        )
    return agg.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


def did_test(
    df: DataFrame,
    arm: str,
    period: str,
    outcome: str,
    control,
    treatment,
    pre,
    post,
    min_cell: int = 2,
) -> DataFrame:
    """Difference-in-differences estimator with closed-form SE — the
    comparison to run when treatment was NOT randomized (a rollout, a
    config change, one cluster migrated first): the treatment arm's
    pre->post change minus the control arm's pre->post change nets
    out both the level difference between arms and the common time
    trend, under the parallel-trends assumption (stated; the
    assumption is testable only with more pre-periods):

        DiD = (m_t_post - m_t_pre) - (m_c_post - m_c_pre)
        SE^2 = sum over the four cells of var_cell / n_cell

    (the independent-cells Welch-style variance — rows are assumed
    independent across cells; for per-user repeated observations feed
    one row per (user, period) so the cell unit is the user, same
    reduction contract as cuped/delta_method_ratio_test.)

    One aggregation over the four (arm, period) cells; algebra on one
    row. Cells below ``min_cell`` rows yield an empty result (a 2x2
    with an empty cell has no DiD). Returns one row: (n_control_pre,
    n_control_post, n_treatment_pre, n_treatment_post, diff_control,
    diff_treatment, did, se, z).
    """
    a = F.col(arm).cast("string")
    p = F.col(period).cast("string")
    y = F.col(outcome).cast("double")
    base = df.filter(
        y.isNotNull()
        & a.isin([str(control), str(treatment)])
        & p.isin([str(pre), str(post)])
    ).select(
        (a == str(treatment)).cast("int").alias("t"),
        (p == str(post)).cast("int").alias("q"),
        y.alias("y"),
    )
    agg = base.agg(
        *[
            e.alias(f"{n_}_{t_}{q_}")
            for t_ in (0, 1)
            for q_ in (0, 1)
            for n_, e in (
                (
                    "n",
                    F.sum(
                        F.when((F.col("t") == t_) & (F.col("q") == q_), 1.0)
                    ),
                ),
                (
                    "s",
                    F.sum(
                        F.when(
                            (F.col("t") == t_) & (F.col("q") == q_),
                            F.col("y"),
                        )
                    ),
                ),
                (
                    "ss",
                    F.sum(
                        F.when(
                            (F.col("t") == t_) & (F.col("q") == q_),
                            F.col("y") * F.col("y"),
                        )
                    ),
                ),
            )
        ]
    )

    def cell(t_, q_):
        n = F.col(f"n_{t_}{q_}")
        m = F.col(f"s_{t_}{q_}") / n
        v = (F.col(f"ss_{t_}{q_}") - n * m * m) / (n - 1)
        return n, m, v

    n00, m00, v00 = cell(0, 0)
    n01, m01, v01 = cell(0, 1)
    n10, m10, v10 = cell(1, 0)
    n11, m11, v11 = cell(1, 1)
    did = (m11 - m10) - (m01 - m00)
    se2 = v00 / n00 + v01 / n01 + v10 / n10 + v11 / n11
    ok = (
        (n00 >= min_cell)
        & (n01 >= min_cell)
        & (n10 >= min_cell)
        & (n11 >= min_cell)
    )
    return agg.filter(ok).select(
        n00.cast("long").alias("n_control_pre"),
        n01.cast("long").alias("n_control_post"),
        n10.cast("long").alias("n_treatment_pre"),
        n11.cast("long").alias("n_treatment_post"),
        F.round(m01 - m00, 6).alias("diff_control"),
        F.round(m11 - m10, 6).alias("diff_treatment"),
        F.round(did, 6).alias("did"),
        F.round(F.sqrt(se2), 6).alias("se"),
        F.when(se2 > 0, F.round(did / F.sqrt(se2), 6)).alias("z"),
    )


def rank_biased_overlap(
    df: DataFrame,
    item: str,
    score_a: str,
    score_b: str,
    group: str | None = None,
    p: float = 0.9,
    depth: int = 50,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    the rankings two SCORES induce over the same items — the
    top-weighted agreement measure for indefinite rankings, built for
    exactly the question rank-correlation cannot answer: Kendall/
    Spearman (kendall_lineitem, spearman_lineitem) weight a swap at
    rank 10000 like a swap at rank 1, but when two quality scorers or
    two retrieval stages disagree, only the TOP of the list ships.

        RBO@D = (1 - p) * sum_{d=1..D} p^(d-1) * |A_d ∩ B_d| / d

    (A_d, B_d the depth-d prefixes; truncated at ``depth`` — the
    truncated form underestimates full RBO by at most p^D, stated
    rather than hidden; p is the caller-pinned top-weight, 0.9 ~
    "the first 10 ranks carry ~86% of the weight").

    The prefix intersection never needs pairwise lists: an item with
    ranks (ra, rb) is inside BOTH depth-d prefixes iff max(ra, rb) <=
    d, so |A_d ∩ B_d| is a cumulative count over m = max(ra, rb) —
    one rank window per score (ties broken by item id, stated), one
    O(depth) cumulative pass per group. Rows with NULL in either
    score are excluded (an item one scorer cannot rank is outside the
    comparison, stated).

    Returns (group?, n_items, depth, p, rbo).
    """
    from pyspark.sql import Window as W

    if not 0 < p < 1:
        raise ValueError("p must be in (0, 1)")
    gcols = [F.col(group).alias("g")] if group else []
    gb = ["g"] if group else []
    base = df.filter(
        F.col(score_a).isNotNull() & F.col(score_b).isNotNull()
    ).select(
        *gcols,
        F.col(item).alias("i"),
        F.col(score_a).cast("double").alias("sa"),
        F.col(score_b).cast("double").alias("sb"),
    )
    wa = W.partitionBy(*gb).orderBy(F.desc("sa"), "i")
    wb = W.partitionBy(*gb).orderBy(F.desc("sb"), "i")
    ranked = base.select(
        *gb,
        F.greatest(
            F.row_number().over(wa), F.row_number().over(wb)
        ).alias("m"),
    )
    per_m = ranked.filter(F.col("m") <= depth).groupBy(*gb, "m").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = (
        W.partitionBy(*gb)
        .orderBy("m")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # overlap at the observed depths; depths with no new item reuse
    # the previous overlap — handled by summing each overlap run:
    # sum_{d=m_k}^{m_{k+1}-1} p^(d-1) = (p^(m_k-1) - p^(m_{k+1}-1))/(1-p)
    from pyspark.sql import functions as _F

    stepped = per_m.select(
        *gb,
        "m",
        _F.sum("c").over(wc).alias("ov"),
    ).select(
        *gb,
        "m",
        "ov",
        _F.lead("m").over(W.partitionBy(*gb).orderBy("m")).alias("m_next"),
    )
    d_end = _F.coalesce(_F.col("m_next"), _F.lit(depth + 1))
    # sum over d in [m, d_end): p^(d-1) * ov / d  — expanded exactly
    # via an in-row sequence (bounded by depth, a pinned constant)
    term = _F.aggregate(
        _F.sequence(_F.col("m"), d_end - 1),
        _F.lit(0.0),
        lambda acc, d: acc
        + _F.pow(_F.lit(p), d.cast("double") - 1.0)
        * _F.col("ov").cast("double")
        / d.cast("double"),
    )
    counts = base.groupBy(*gb).agg(_F.count(_F.lit(1)).alias("n_items"))
    agg = stepped.groupBy(*gb).agg(_F.sum(term).alias("s"))
    # left join from counts: a group whose prefixes never intersect
    # inside `depth` has no stepped rows at all — its RBO is exactly 0.
    # The ungrouped path must ALSO be a left join (on a constant key):
    # crossJoin against an empty agg would drop the single counts row
    # and return zero rows, contradicting the RBO-exactly-0 contract.
    joined = (
        counts.join(agg, gb, "left")
        if group
        else counts.join(agg, F.lit(True), "left")
    )
    out_g = [_F.col("g").alias(group)] if group else []
    return joined.select(
        *out_g,
        "n_items",
        _F.lit(depth).alias("depth"),
        _F.lit(p).alias("p"),
        _F.round(
            (1.0 - p) * _F.coalesce(_F.col("s"), _F.lit(0.0)), 6
        ).alias("rbo"),
    )
