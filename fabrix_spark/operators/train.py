"""Distributed training-step primitives — the point where a curated
corpus stops being "data" and starts being a model. The reference
engine stops at query/serve (fabrix-core exposes no trainer); this
module adds the one training shape that IS a distributed-query
workload: full-batch gradient descent, where each iteration is a
single aggregate pass over the corpus and the parameter vector is
driver-held metadata (the same driver-loop contract as
``similarity.power_iteration_top`` and ``text.bpe_train``).

Cross-engine exactness is the design constraint, met the repo's usual
way: NO transcendental in the update path. The logistic link is the
rational "fast sigmoid" σ̃(z) = 1/2 + z / (2·(1+|z|)) (an established
cheap sigmoid substitute — same range, sign, and monotonicity), which
in integer micro-units is one truncating division:
``p_micro = 500000 + (z·500000) DIV (10⁶ + |z|)`` — DIV truncates
toward zero identically in Spark and DuckDB (verified on negatives),
so every engine replaying the same iterations reproduces the weight
sequence bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import materialize

__all__ = ["gini_best_split", "logreg_gd", "nb_train_predict"]


def _div_trunc(a: int, b: int) -> int:
    """Integer division truncating toward zero — SQL DIV / DuckDB //
    semantics (Python's // floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def logreg_gd(
    df: DataFrame,
    features: list[Column],
    label: Column,
    iters: int = 3,
    lr_num: int = 1,
    lr_den: int = 2,
) -> DataFrame:
    """Full-batch gradient descent for a logistic-style linear
    classifier, distributed the only way that survives 100 TB: the
    CORPUS never moves (each iteration is ONE aggregate with map-side
    partials — dim gradient sums and nothing else), and the WEIGHTS
    are plan-literal metadata refreshed on the driver between passes.
    Returns the full weight trajectory: one row per (iteration, j)
    with the integer micro-unit weight — dim·iters rows, metadata by
    contract.

    Exact integer arithmetic end to end:

    - ``features`` must be INTEGER expressions (quantize upstream —
      milli-units are the convention here); ``label`` must be 0/1.
    - logit ``z = Σ w_j·x_j`` and the link ``p_micro = 500000 +
      (z·500000) DIV (10⁶+|z|)`` evaluate in decimal(38,0), so a
      large-|z| corpus cannot wrap silently (the gram_matrix lesson,
      applied from day one); the link value itself is < 10⁶ and drops
      back to int64.
    - residual ``r = p_micro − y·10⁶``; gradient sums
      ``g_j = Σ x_j·r`` aggregate as decimal(38,0) (≤ |x|·10⁶/row).
    - update ``w_j ← w_j − trunc_div(g_j·lr_num, n·lr_den)`` in exact
      Python ints with truncation-toward-zero (SQL DIV semantics), so
      a SQL oracle unrolling the same iterations matches bit for bit.

    Full-batch (not stochastic) is deliberate: SGD's sequential
    sampling is a single-node loop, while the batch gradient is a
    pure mergeable aggregate — the textbook distributed shape (one
    shuffle-free pass per iteration; at scale, persist the
    featurized projection once to skip re-deriving features each
    pass). Rows with a NULL label or any NULL feature are excluded
    (they carry no gradient, and one NULL would poison the sums)."""
    dim = len(features)
    if dim == 0:
        raise ValueError("logreg_gd: at least one feature expression required")
    feat = df.select(
        *[c.cast("long").alias(f"__x{j}") for j, c in enumerate(features)],
        label.cast("long").alias("__y"),
    )
    notnull = F.col("__y").isNotNull()
    for j in range(dim):
        notnull = notnull & F.col(f"__x{j}").isNotNull()
    feat = feat.where(notnull)
    # n rides in the first iteration's aggregate (the w=0 gradient
    # needs no n beforehand) — iters passes total, not iters+1
    n = 0
    w = [0] * dim
    rows: list[tuple[int, int, int]] = []
    for it in range(1, iters + 1):
        z = None
        for j in range(dim):
            term = F.lit(int(w[j])).cast("decimal(38,0)") * F.col(f"__x{j}")
            z = term if z is None else z + term
        scored = feat.withColumn("__z", z.cast("decimal(38,0)")).selectExpr(
            "*",
            "CAST(500000 + (__z * 500000) DIV"
            " (CAST(1000000 AS DECIMAL(38,0)) + abs(__z)) AS BIGINT) AS __p",
        )
        r = F.col("__p") - F.col("__y") * F.lit(1_000_000)
        # cast x to decimal BEFORE the multiply: |x_j·r| can pass 2^63
        # at |x| ≳ 9.3e12 and Spark's long multiply wraps silently —
        # the same silent-wrap class the z path above already avoids
        aggs = [
            F.sum(F.col(f"__x{j}").cast("decimal(38,0)") * r).alias(f"__g{j}")
            for j in range(dim)
        ]
        # count the rows that actually ENTERED the sums: a PER-ROW
        # decimal(38,0) overflow of __z (or __z·500000) NULLs that
        # row's __p under non-ANSI Spark, F.sum silently skips it, and
        # the g[j]-is-None check below never fires (it only sees SUM
        # overflow) — the update would divide a partial gradient by
        # the full n, silently corrupting the weights (r16
        # self-review)
        aggs.append(F.count("__p").alias("__np"))
        if it == 1:
            aggs.append(F.count("*").alias("__n"))
        g = scored.agg(*aggs).collect()[0]
        if it == 1:
            n = int(g["__n"])
            if n == 0:
                raise ValueError(
                    "logreg_gd: empty training set after NULL exclusion"
                )
        if int(g["__np"]) != n:
            raise ValueError(
                f"logreg_gd: {n - int(g['__np'])} row(s) overflowed the "
                f"decimal(38,0) logit at iteration {it} and dropped out "
                "of the gradient — feature magnitudes times the current "
                "weights exceed the exact-arithmetic contract; rescale/"
                "quantize features coarser upstream"
            )
        for j in range(dim):
            gj = g[f"__g{j}"]
            if gj is None:
                # decimal(38,0) overflow under non-ANSI Spark NULLs the
                # sum instead of raising; surface it as the same loud
                # contract violation the w-divergence path gives
                raise ValueError(
                    f"logreg_gd: gradient sum g[{j}] overflowed "
                    f"decimal(38,0) at iteration {it} — feature "
                    "magnitudes (or dim·|x|·10⁶ per row times corpus "
                    "size) exceed the exact-arithmetic contract; "
                    "rescale/quantize features coarser upstream"
                )
            w[j] = w[j] - _div_trunc(int(gj) * lr_num, n * lr_den)
            if abs(w[j]) >= 1 << 62:
                # the plan-literal weight and the output schema are
                # int64; a diverging run must fail loudly, not wrap
                raise ValueError(
                    f"logreg_gd: weight w[{j}] = {w[j]} left the int64 "
                    "range at iteration "
                    f"{it} — the learning rate is too aggressive for "
                    "these feature magnitudes (lower lr_num/lr_den or "
                    "rescale features)"
                )
            rows.append((it, j, int(w[j])))
    return df.sparkSession.createDataFrame(
        rows, "iteration int, j int, w long"
    )


def gini_best_split(
    df: DataFrame,
    features: list[tuple[str, Column]],
    label: Column,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact best decision-stump split per feature — the tree-model
    training primitive (the inner loop of every GBDT/random-forest
    trainer): for each candidate threshold t of each feature, score
    the binary split ``x ≤ t`` by weighted Gini purity and return each
    feature's best threshold. One row per SPLITTABLE feature,
    metadata-sized — a feature with a single distinct value admits no
    split (its only candidate sends every row left) and is absent
    from the output, so callers indexing by feature name must treat
    a missing key as "unsplittable", not as an error.

    Exactness: minimizing weighted Gini impurity is maximizing
    ``S = (pL² + qL²)/nL + (pR² + qR²)/nR`` (p/q = positive/negative
    counts left/right — all integers). S is rational with denominator
    ``nL·nR``; the reported ``score_q = (num·scale) DIV (nL·nR)`` is a
    truncating integral division of exact decimal(38,0) integers
    (num ≤ 2n³ ≈ 2e27 at 1e9 rows — far inside decimal(38)), so the
    per-feature arg-max over (score_q DESC, threshold ASC) is
    deterministic and engine-identical. Near-ties that quantize equal
    resolve by the threshold tie-break — a defined contract, not an
    instability.

    Plan: ONE corpus pass — the features explode to (feature, value)
    pairs that hash-aggregate with map-side combine (the k× row
    blow-up collapses to k × |distinct values| before any shuffle),
    then the cumulative pass is a window PARTITIONED BY feature.
    SCALE CONTRACT (same as auc_by_group's window path): each
    feature's DISTINCT VALUES evaluate in one reducer — quantize
    features upstream (integer features already are) so a feature is
    bounded at its value-domain size regardless of row count. Rows
    with a NULL label are excluded; a NULL feature value drops that
    row from THAT feature's histogram only."""
    from pyspark.sql import Window

    if not features:
        raise ValueError("gini_best_split: at least one (name, column) feature")
    names = [name for name, _ in features]
    if len(set(names)) != len(names):
        # duplicate names silently MERGE histograms and score garbage
        raise ValueError(
            f"gini_best_split: duplicate feature names {sorted(names)}"
        )
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("feature"), col.cast("long").alias("val")
            )
            for name, col in features
        ]
    )
    lf = (
        df.where(label.isNotNull())
        .select(F.explode(pairs).alias("fv"), label.cast("long").alias("__y"))
        .select("fv.feature", "fv.val", "__y")
        .where(F.col("val").isNotNull())
    )
    g = lf.groupBy("feature", "val").agg(
        F.count("*").alias("cnt"), F.sum("__y").alias("pos")
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = Window.partitionBy("feature")
    c = g.select(
        "feature",
        "val",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("cnt").over(wf).alias("n"),
        F.sum("pos").over(wf).alias("p"),
    ).where(F.col("n") > F.col("nl"))  # the max value splits nothing right

    def d(name: str) -> Column:
        return F.col(name).cast("decimal(38,0)")

    nr = d("n") - d("nl")
    pr = d("p") - d("pl")
    ql = d("nl") - d("pl")
    qr = nr - pr
    num = (d("pl") * d("pl") + ql * ql) * nr + (pr * pr + qr * qr) * d("nl")
    s = c.withColumn("__num", num.cast("decimal(38,0)")).selectExpr(
        "feature",
        "val",
        "nl",
        "pl",
        "n",
        "p",
        f"CAST((__num * {scale}) DIV (CAST(nl AS DECIMAL(38,0))"
        " * (CAST(n AS DECIMAL(38,0)) - nl)) AS BIGINT) AS score_q",
    )
    best = Window.partitionBy("feature").orderBy(
        F.col("score_q").desc(), F.col("val").asc()
    )
    return (
        s.withColumn("__rn", F.row_number().over(best))
        .where(F.col("__rn") == 1)
        .select(
            "feature",
            F.col("val").alias("threshold"),
            F.col("nl").cast("long").alias("n_left"),
            (F.col("n") - F.col("nl")).cast("long").alias("n_right"),
            F.col("pl").cast("long").alias("pos_left"),
            (F.col("p") - F.col("pl")).cast("long").alias("pos_right"),
            "score_q",
        )
    )


def nb_train_predict(
    df: DataFrame,
    class_col: str,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_df: DataFrame | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes over hashed token features — train AND
    score in one plan (the generative classifier every lang-id /
    topic-routing pipeline starts from; fastText-lite without the
    embedding). Training is pure counting: per-class bucket counts
    reduce to ≤ classes·dim metadata rows, smoothed per-bucket
    log-likelihoods and class priors quantize to int64 micro-nats
    (the dsir_weights / ngram_lm_score recipe — ln over exact integer
    ratios, ONE rounding per table cell, so per-document sums are
    order-free integers; ``ln`` is libm, not correctly-rounded IEEE,
    so cross-engine hash equality is the empirical record on tested
    engines — see mutual_information's caveat — not a proof).

    Scoring: the dense (class × bucket) log-likelihood table
    broadcasts onto the per-document feature counts (one tokenize
    pass, map-side combined); per-(doc, class) scores aggregate and
    the arg-max is ``min(struct(−score, class))`` — one aggregate, no
    per-doc window, deterministic class-ASC tie-break. Returns
    (id_col, pred, score_micro) for every document with ≥1 token
    (token-free documents have no features and are absent — route
    them through a quality gate first).

    Scale shape: one tokenize pass + one broadcast join + two
    metadata-sized aggregates; the corpus shuffles once, on
    (id, class, feature) hash-aggregation.

    ``score_df`` selects WHAT gets scored: the default (None) scores
    the training corpus itself (the training-fit diagnostic); passing
    a held-out frame (same text/id columns; no label needed) trains on
    ``df`` and classifies ``score_df`` — the deployable path the
    weak-supervision pipeline implies. The model is the same
    broadcastable classes×dim table either way; the held-out frame
    pays one extra tokenize pass and nothing else."""
    from .text import feature_hash

    feats = feature_hash(
        df, dim=dim, text_col=text_col, id_col=id_col, carry=[class_col]
    )
    cb = feats.groupBy(class_col, "feature").agg(F.sum("cnt").alias("__n"))
    # one corpus scan covers classes, per-class doc counts, AND the
    # grand total (materialize pins the k-row result so the three
    # consumers below don't each re-derive it from the corpus)
    nd = materialize(
        df.where(F.col(class_col).isNotNull())
        .groupBy(class_col)
        .agg(F.count("*").alias("__nc"))
    )
    # dense class × bucket grid: absent buckets still carry the
    # add-one-smoothed log-likelihood (a scored doc may hit a bucket
    # its class never produced in training)
    grid = nd.select(class_col).crossJoin(
        df.sparkSession.range(dim).select(F.col("id").cast("int").alias("feature"))
    )
    tc = cb.groupBy(class_col).agg(F.sum("__n").alias("__tc"))
    # cb/tc are classes×dim / classes rows — metadata by contract, but
    # they derive from the corpus so the planner has no size stats and
    # would sort-merge these left joins without the explicit broadcast
    lp = (
        grid.join(F.broadcast(cb), [class_col, "feature"], "left")
        .join(F.broadcast(tc), class_col, "left")
        .select(
            class_col,
            "feature",
            F.round(
                F.log(
                    (F.coalesce(F.col("__n"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("__tc"), F.lit(0)) + dim).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("__lp_u"),
        )
    )
    ntot = nd.agg(F.sum("__nc")).collect()[0][0]
    if not ntot:
        raise ValueError(
            "nb_train_predict: empty training set (no rows with a "
            f"non-NULL {class_col!r})"
        )
    prior = nd.select(
        class_col,
        F.round(
            F.log(F.col("__nc").cast("double") / F.lit(float(ntot))) * 1_000_000
        )
        .cast("long")
        .alias("__pr_u"),
    )
    if score_df is None:
        # training-fit diagnostic: reuse the already-tokenized features
        score_feats = feats
    else:
        score_feats = feature_hash(
            score_df, dim=dim, text_col=text_col, id_col=id_col
        )
    doc_feats = score_feats.groupBy(id_col, "feature").agg(
        F.sum("cnt").alias("cnt")
    )
    scored = (
        doc_feats.join(
            F.broadcast(lp.withColumnRenamed(class_col, "__cls")), "feature"
        )
        .groupBy(id_col, "__cls")
        .agg(F.sum(F.col("cnt") * F.col("__lp_u")).alias("__ll_u"))
        .join(
            F.broadcast(prior.withColumnRenamed(class_col, "__cls")), "__cls"
        )
        .select(
            id_col,
            "__cls",
            (F.col("__ll_u") + F.col("__pr_u")).alias("__score"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct((-F.col("__score")).alias("n"), F.col("__cls").alias("c")))
        .alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.c").alias("pred"),
        (-F.col("__b.n")).cast("long").alias("score_micro"),
    )
