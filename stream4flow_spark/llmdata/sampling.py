"""Deterministic sampling / splitting for training-data pipelines.

Both operators key on an md5 hash bucket of (id, salt) — fully
deterministic (same split on every run, any partitioning, any engine:
md5 is identical in Spark and DuckDB, so the driver's oracle can verify
the exact assignment), order-independent, and join-free. This is the
property `df.sample()`/`randomSplit()` lack: their assignment depends on
partitioning and seed plumbing, which breaks reproducibility across
re-runs and engines.

The bucket is the first 4 md5 hex chars as an int in [0, 65536) — plenty
of resolution for split fractions; at 100 TB the expression is pure
map-side Column math on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 65536


def hash_bucket(key: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 65536) from (key, salt)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int")


def split_expr(key: Column, weights: dict[str, float], salt: str) -> Column:
    """The split name for ``key`` under cumulative-bucket assignment —
    a pure Column function of the key, so any id-typed expression (a
    row's own id, or its dedup-component representative) can be split
    with the identical rule."""
    v = hash_bucket(key, salt)
    names = list(weights)
    cum = 0.0
    expr: Column | None = None
    for name in names[:-1]:
        cum += weights[name]
        cond = v < int(cum * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "s4f-split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative weight fraction.

    weights must sum to 1 (the last split absorbs rounding)."""
    return df.withColumn(out_col, split_expr(F.col(key_col), weights, salt))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "s4f-split",
    out_col: str = "split",
) -> DataFrame:
    """Hash split REPAIRED so near-duplicate groups never straddle splits.

    ``llm_split_leakage`` measures eval contamination after the fact;
    this operator prevents it: every document in a near-dup connected
    component (from ``pairs``, e.g. the LSH-verified pair graph) is
    assigned the split its component REPRESENTATIVE (min-id member)
    would get, so a train/test near-dup pair is impossible by
    construction. Documents in no pair keep their own hash split — the
    repair never perturbs the clean majority, and fractions drift only
    by the (small) duplicated mass.

    Because the base split is a pure function of the key, the repaired
    split needs NO second join against representative rows: after the
    one id-only left join against the component map, the final split is
    ``split_expr(coalesce(component, id))`` — map-side Column math.

    Output: ``df``'s columns + ``split_orig`` (the naive assignment),
    ``out_col`` (the repaired one), ``moved`` (did the repair change it).

    Scale shape: component labels are id-pairs on the wire
    (``connected_components``' bound), the corpus joins them by id once;
    at 100 TB the component map is tiny next to the corpus — Spark's
    AQE broadcasts it.
    """
    from stream4flow_spark.llmdata.dedup import connected_components

    # internal aliases so caller columns named "id"/"component" survive
    # (drop-by-name after a join removes ALL matching columns)
    comp = connected_components(pairs).select(
        F.col("id").alias("__lss_id"), F.col("component").alias("__lss_comp")
    )
    base = df.withColumn(
        "split_orig", split_expr(F.col(key_col), weights, salt)
    )
    joined = base.join(
        comp, base[key_col] == comp["__lss_id"], "left"
    ).drop("__lss_id")
    rep = F.coalesce(F.col("__lss_comp"), F.col(key_col))
    return (
        joined.withColumn(out_col, split_expr(rep, weights, salt))
        .withColumn("moved", F.col(out_col) != F.col("split_orig"))
        .drop("__lss_comp")
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "s4f-sample",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows (strata not in
    ``fractions`` are dropped)."""
    v = hash_bucket(F.col(key_col), salt)
    cond = F.lit(False)
    for stratum, frac in fractions.items():
        cond = cond | (
            (F.col(strata_col) == stratum) & (v < int(frac * _BUCKETS))
        )
    return df.filter(cond)


# Measured on local[32] (see cap_per_group docstring / SCALE.md): the
# single-window sort beats the salted two-stage below ~8M rows in the
# hottest group; past it, pre-capping within ~4M-row buckets wins.
_AUTO_SALT_CROSSOVER_ROWS = 8_000_000
_AUTO_SALT_TARGET_ROWS = 4_000_000


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    key_col: str = "doc_id",
    salt: str = "s4f-cap",
    rank_col: str = "sample_rank",
    salt_buckets: int | str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically.

    Rows within a group are ordered by md5(key, salt) — an
    engine/run/partitioning-independent shuffle of the group — and the
    first ``cap`` survive, so the retained subset is uniform-ish and
    reproducible (same rows on every run and engine, verifiable by the
    DuckDB oracle). This is the per-domain/source cap every web-scale
    corpus applies so a handful of giant crawls can't dominate training.

    Adds ``rank_col`` (1-based position in the group's hash order).
    Plan: one exchange keyed by the group + an in-partition sort — a
    rank window, no collect. When one group is too hot for a single
    task's sort, pass ``salt_buckets``: a first rank window caps within
    (group, md5-derived bucket) — bounding any task at roughly
    group/buckets rows — and the final window ranks only the ≤
    cap × salt_buckets survivors. The global lowest-``cap`` rows of a
    group are each lowest-``cap`` within their own bucket, so the
    two-stage result is IDENTICAL to the single-window one (asserted in
    tests), same trick as the DDoS salted collect_set
    (operators/skew.py).

    Measured crossover (local[32], one source owning most rows, cap
    1000, min-of-2 runs — SCALE.md "per-source cap skew study"): at a
    2M-row hot group the single window WINS (1.1 s vs 1.7 s — the
    pre-cap pays an extra exchange the sort doesn't need); at a 24M-row
    hot group the two-stage wins 2.2x (12.6 s -> 5.7 s with 64
    buckets). ``salt_buckets="auto"`` encodes that: it runs one cheap
    per-group count (partial-aggregated, |groups| rows on the wire),
    goes two-stage only when the largest group exceeds the measured
    ~8M-row crossover, and sizes buckets at ~4M rows each. The count is
    an EAGER extra pass — production pipelines that already know their
    group-size distribution should pass an explicit int instead.
    """
    from pyspark.sql import Window

    if salt_buckets == "auto":
        max_group = (
            df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
            or 0
        )
        if max_group > _AUTO_SALT_CROSSOVER_ROWS:
            salt_buckets = min(
                64, max(2, -(-max_group // _AUTO_SALT_TARGET_ROWS))
            )
        else:
            salt_buckets = None

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    if salt_buckets is not None:
        bucket = (
            F.conv(F.substring(h, 29, 4), 16, 10).cast("long") % salt_buckets
        )
        pre = Window.partitionBy(F.col(group_col), bucket).orderBy(h)
        df = (
            df.withColumn("__pre_rank", F.row_number().over(pre))
            .filter(F.col("__pre_rank") <= cap)
            .drop("__pre_rank")
        )
    w = Window.partitionBy(group_col).orderBy(h)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= cap)
    )


def mixture_resample(
    df: DataFrame,
    targets: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "s4f-mix",
) -> DataFrame:
    """Deterministically downsample groups to a target mixture.

    ``targets`` maps group → desired share of the OUTPUT corpus (need
    not sum to 1; groups not listed are dropped). The largest corpus
    achievable without upsampling keeps every row of the scarcest group
    relative to its target (scale K = min over groups of count/target);
    every other group is thinned to ``target × K`` rows via the same
    md5-bucket coin as `hash_split` — so the result is reproducible on
    any engine/partitioning and the driver's DuckDB oracle can verify
    the exact surviving row set, which `df.sample()` can never offer.

    Plan shape at 100 TB: one tiny per-group count aggregate (≤ groups
    rows) carries the threshold math; it broadcast-joins back onto the
    scan and the keep-filter is map-side Column arithmetic. No O(data)
    shuffle beyond the count's partial aggregate.
    """
    tmap = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    in_scope = df.filter(F.col(group_col).isin(*targets))
    counts = (
        in_scope.groupBy(group_col)
        .agg(F.count("*").alias("n_group"))
        .withColumn("target_w", tmap[F.col(group_col)])
    )
    whole = Window.partitionBy()
    thresh = (
        counts.withColumn(
            "scale_k", F.min(F.col("n_group") / F.col("target_w")).over(whole)
        )
        .withColumn(
            "keep_thresh",
            F.least(
                F.lit(float(_BUCKETS)),
                F.floor(
                    F.col("target_w") * F.col("scale_k") / F.col("n_group")
                    * _BUCKETS
                ).cast("double"),
            ).cast("int"),
        )
        .select(group_col, "keep_thresh")
    )
    return in_scope.join(F.broadcast(thresh), group_col).filter(
        hash_bucket(F.col(key_col), salt) < F.col("keep_thresh")
    )


def token_budget_per_group(
    df: DataFrame,
    group_col: str,
    budget: int,
    weight_col: str,
    order_by: list[Column] | None = None,
    key_col: str = "doc_id",
    cum_col: str = "cum_weight",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Keep the best rows of each group up to a cumulative WEIGHT budget.

    `cap_per_group` bounds groups by ROW count; training mixtures are
    specified in TOKENS, so the cap that matters is "this source
    contributes at most N tokens".  Rows are ranked inside each group by
    ``order_by`` (default: ``weight_col`` descending — keep the longest;
    curation usually passes a quality score) with ``key_col`` as the
    deterministic tiebreak, and a row survives iff the running total of
    ``weight_col`` UP TO AND INCLUDING it stays ≤ ``budget``.  First-fit
    by rank, not knapsack — the industry-standard greedy (reproducible,
    order-stable), not an optimizer.

    Adds ``cum_col`` (the running post-include total, so downstream can
    see how full each group's budget ran).

    Plan shape at 100 TB: ONE exchange keyed by the group + an
    in-partition sort (a running-sum window frame), identical to the
    rank window `cap_per_group` uses; no collect, no second pass.  A
    group whose rows exceed a task's sort budget salts the same way
    ``cap_per_group`` does — pass ``salt_buckets``: a first rank window
    over (group, md5-derived bucket) IN THE SAME ORDER keeps each
    bucket's first ``budget`` rows, bounding any task at roughly
    group/buckets rows.  That pre-cap is EXACT because weights are ≥ 1
    token: a row ranked past ``budget`` within its own bucket is ranked
    past ``budget`` in the whole group, where its running total would
    already exceed the budget (cum at rank r is ≥ r) — asserted
    equivalent in tests.

    Rows with non-positive weight are DROPPED in both paths: a 0-token
    document contributes nothing to a token budget, and keeping them
    would break the pre-cap's exactness argument above (a 0-weight row
    ranked past ``budget`` leaves cum unchanged, so the single-window
    path would keep it while the bucketed pre-cap dropped it — the
    salted and unsalted results would diverge on exactly those rows).
    """
    order = list(order_by) if order_by is not None else [F.col(weight_col).desc()]
    order.append(F.col(key_col).asc())
    df = df.filter(F.col(weight_col) >= 1)
    if salt_buckets is not None:
        h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit("s4f-tb")))
        bucket = (
            F.conv(F.substring(h, 29, 4), 16, 10).cast("long") % salt_buckets
        )
        pre = Window.partitionBy(F.col(group_col), bucket).orderBy(*order)
        df = (
            df.withColumn("__pre_rank", F.row_number().over(pre))
            .filter(F.col("__pre_rank") <= budget)
            .drop("__pre_rank")
        )
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(cum_col, F.sum(F.col(weight_col).cast("long")).over(w))
        .filter(F.col(cum_col) <= budget)
    )


def epoch_upsample(
    df: DataFrame,
    epochs: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "s4f-epoch",
    out_col: str = "epoch_idx",
) -> DataFrame:
    """Deterministic fractional-epoch upsampling per group.

    `mixture_resample` can only THIN groups; real training mixtures also
    REPEAT the good ones ("3.5 epochs of wiki, 0.3 of crawl"). Each row
    of group g gets ``floor(epochs[g])`` copies plus one more iff its
    md5 coin lands under the fractional part — so exactly the target
    token multiple in expectation, reproducible on any engine/
    partitioning (same rows get the extra epoch every run), and groups
    not listed are dropped (consistent with mixture_resample). Adds
    ``out_col`` (0-based copy index) and ``n_copies``.

    Plan shape at 100 TB: the epochs dict compiles into a literal
    map-lookup Column — NO join, no aggregate; the repeat is an in-task
    sequence()+explode fan-out (rows leave the scan already
    multiplied). Nothing shuffles; downstream shuffles see the
    upsampled row count, which is the point.
    """
    emap = F.create_map(*[F.lit(x) for kv in epochs.items() for x in kv])
    e = emap[F.col(group_col)]
    whole = F.floor(e).cast("int")
    extra = (
        hash_bucket(F.col(key_col), salt).cast("double")
        < (e - F.floor(e)) * _BUCKETS
    ).cast("int")
    n = (whole + extra).alias("n_copies")
    copies = F.when(
        F.col("n_copies") > 0, F.sequence(F.lit(0), F.col("n_copies") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.filter(F.col(group_col).isin(*epochs))
        .withColumn("n_copies", n)
        .withColumn(out_col, F.explode(copies))
    )


def importance_sample(
    df: DataFrame,
    prob_col: Column,
    key_col: str = "doc_id",
    salt: str = "s4f-imp",
) -> DataFrame:
    """Keep each row with probability ``prob_col`` — deterministically.

    The soft-filtering half of quality curation (CCNet §4.2 /
    fastText-classifier pipelines keep docs with probability
    proportional to the model score, rather than a hard threshold that
    cliff-drops the borderline mass). The coin is the same md5 bucket
    `hash_split` uses, so the surviving row set is identical on every
    run, partitioning, and engine — `df.sample()` can promise none of
    that, and the DuckDB oracle verifies the exact rows.

    Map-only Column predicate on the scan: no shuffle, no state; the
    probability can be any Column expression (a quality score, a
    per-source weight lookup, a blend)."""
    p = F.greatest(F.lit(0.0), F.least(F.lit(1.0), prob_col))
    return df.filter(
        hash_bucket(F.col(key_col), salt).cast("double") < p * _BUCKETS
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    weight_col: Column,
    key_col: str = "doc_id",
    salt: str = "s4f-wrs",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Keep k rows per group, sampled WITHOUT replacement with
    probability proportional to ``weight_col`` — deterministically.

    Efraimidis–Spirakis A-ES reservoir keys: rank rows by
    ``ln(u) / w`` descending, where ``u`` is the md5-derived uniform in
    (0, 1) — the top-k under that key are exactly a
    weight-proportional without-replacement sample, and because the
    uniform comes from the same md5 coin the other samplers use, the
    selection is identical on every run, partitioning, and engine
    (the DuckDB oracle re-derives it row-for-row). Zero-weight rows
    never win over positive-weight ones (their key is -inf).

    Completes the sampling family: uniform (`stratified_sample`),
    probability-per-row (`importance_sample`), count cap
    (`cap_per_group`), token budget (`token_budget_per_group`) — this
    is the "keep the best k, but diversely" knob (score-proportional,
    not score-greedy).

    Plan: ONE exchange keyed by the group + rank window, the exact
    cap_per_group shape; the same (group, bucket) pre-cap composes for
    hot groups. The sort key is rounded to 9 decimals with ``key_col``
    as tiebreak so float noise between engines can't flip the order.
    """
    from pyspark.sql import Window

    u = (
        hash_bucket(F.col(key_col), salt).cast("double") + 0.5
    ) / _BUCKETS  # uniform in (0, 1), never exactly 0 or 1
    key = F.round(F.log(u) / weight_col, 9)
    w = Window.partitionBy(group_col).orderBy(
        key.desc_nulls_last(), F.col(key_col).asc()
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    cap: int = 25,
    n_iters: int = 5,
    sample_per_centroid: int = 500,
    salt: str = "s4f-cluster",
) -> DataFrame:
    """Semantic-density-balanced sampling (SemDeDup-adjacent curation):
    cluster the embedding space with sample-trained spherical k-means
    (`simsearch._kmeans_centroids`), then keep at most ``cap`` rows PER
    CLUSTER via the md5-deterministic `cap_per_group` rule — so a
    corpus where one topic owns 90% of the rows contributes at most
    1/n_clusters-ish of the sample, where every source/quality/token
    knob in this module would happily keep the mode. The missing axis
    of the sampling family: uniform, per-row-probability, count cap,
    token budget, weight-proportional — and now per-semantic-region.

    Plan shape at 100 TB: centroid training pulls a bounded hash-spread
    sample to the driver (the documented `_kmeans_centroids` bound);
    assignment is ONE map-side pass — the (n_clusters × dim) matrix
    rides the closure, scores are JVM-side zip_with/aggregate dots,
    argmax is array_position — and the only exchange is cap_per_group's
    cluster-keyed rank window (salt-bucket pre-cap composes for hot
    clusters). No corpus-wide Lloyd, no driver collect of data rows.

    Row vectors round to 7dp and scores to 6dp, as in the trainer, so
    a DuckDB oracle replays centroid training, assignment, and the cap
    CTE-for-CTE (``gate_oracles._cluster_balanced_oracle``). The cost
    is one JVM ``round`` per vector element per row.

    Returns (id_col, cluster_id, sample_rank) for the kept rows.
    """
    from stream4flow_spark.llmdata.simsearch import _kmeans_centroids, dot

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.greatest(
        F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x)),
        F.lit(1e-12),
    )
    v = F.transform(vd, lambda x: F.round(x / nrm, 7))
    base = df.select(F.col(id_col).alias("id"), v.alias("v"))
    C = _kmeans_centroids(base, n_clusters, n_iters, sample_per_centroid)
    scores = F.array(*[
        F.round(dot(F.col("v"), F.array(*[F.lit(float(c)) for c in row])), 6)
        for row in C
    ])
    cid = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    assigned = base.select("id", cid.alias("cluster_id"))
    capped = cap_per_group(assigned, "cluster_id", cap, key_col="id", salt=salt)
    return capped.select(
        F.col("id").alias(id_col), "cluster_id", "sample_rank"
    )
