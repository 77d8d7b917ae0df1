"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — brute-force exact top-k for a bounded query set:
  broadcast the queries, one pass over the corpus, rank per query. The
  correctness baseline, and also the right plan when |queries| is small
  (the corpus scan parallelizes; no shuffle except the final per-query
  top-k, which TakeOrdered-style keeps tiny).
- ``lsh_bucketed_neighbors`` — the scale path: random-hyperplane (sign)
  LSH buckets vectors so candidate generation is a groupBy-join on the
  bucket key instead of a cross join. Hyperplanes are seed-deterministic.

Dot products stay in the JVM via higher-order functions (zip_with +
aggregate) — no Python in the per-vector hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector has no direction — NULL, not an ANSI
    # DIVIDE_BY_ZERO error (consumers filter NULLs out of rankings).
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _pair_dot_norms(paired: DataFrame, id_cols: list[str]) -> DataFrame:
    """(id_cols..., __dot, __nprod) over a paired-vector frame with
    ``va``/``vb`` array<double> columns — the exact-cosine verify
    numerator and denominator, computed by ONE Arrow-batched NumPy
    kernel instead of per-row interpreted higher-order folds (guide
    §4.2: zip_with/aggregate lambdas are CodegenFallback, and a banded
    join feeds this 10-100× more candidate pairs than survivors).

    Bit-compatibility with ``dot``/``norm`` is load-bearing for the
    oracle hash: the kernel accumulates dimension-by-dimension in
    ascending order from +0.0 — the same IEEE op sequence as the
    ``aggregate`` fold — and ``sqrt``/multiply/divide are single ops.
    NULL or length-mismatched pairs yield NULL (__dot, __nprod), which
    ``try_divide`` turns into the same NULL cosine the Column fold
    produced (zip_with pads the shorter array with NULLs, poisoning the
    fold). Consumers apply try_divide + round in Column land so HALF_UP
    rounding semantics stay the engine's."""
    schema = (
        ", ".join(
            f"{c} {paired.schema[c].dataType.simpleString()}" for c in id_cols
        )
        + ", __dot double, __nprod double"
    )
    n_ids = len(id_cols)

    def kern(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = pdf["va"].to_numpy()
            B = pdf["vb"].to_numpy()
            n = len(pdf)
            dots = np.full(n, np.nan)
            nprods = np.full(n, np.nan)
            ok = np.fromiter(
                (
                    a is not None and b is not None and len(a) == len(b)
                    for a, b in zip(A, B)
                ),
                dtype=bool,
                count=n,
            )
            idx = np.flatnonzero(ok)
            if idx.size:
                lens = np.fromiter(
                    (len(A[i]) for i in idx), dtype=np.int64, count=idx.size
                )
                for ln in np.unique(lens):
                    sub = idx[lens == ln]
                    if ln == 0:
                        dots[sub] = 0.0
                        nprods[sub] = 0.0
                        continue
                    V1 = np.vstack([np.asarray(A[i], dtype=np.float64) for i in sub])
                    V2 = np.vstack([np.asarray(B[i], dtype=np.float64) for i in sub])
                    ad = np.zeros(sub.size)
                    a1 = np.zeros(sub.size)
                    a2 = np.zeros(sub.size)
                    # ascending-dimension accumulation from +0.0 — the
                    # exact fold order of dot()/norm()
                    for d in range(ln):
                        x = V1[:, d]
                        y = V2[:, d]
                        ad = ad + x * y
                        a1 = a1 + x * x
                        a2 = a2 + y * y
                    dots[sub] = ad
                    nprods[sub] = np.sqrt(a1) * np.sqrt(a2)
            out = {c: pdf[c] for c in pdf.columns[:n_ids]}
            # NaN marks the not-ok rows; the Arrow writer surfaces NaN
            # float cells as NULL, matching the Column fold's NULL
            out["__dot"] = dots
            out["__nprod"] = nprods
            yield pd.DataFrame(out)

    return paired.select(*id_cols, "va", "vb").mapInPandas(kern, schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (excluding self).

    Output: query_id, neighbor_id, cos (double, optionally rounded so
    ranking ties break deterministically by neighbor_id).

    ``exclude_label_col``: additionally exclude pairs whose label (that
    column on both inputs) MATCHES — null-safely, so two NULL labels
    count as the same class. This is hard-negative mining (see
    ``hard_negatives``); the exclusion evaluates inside the broadcast
    join, so same-label rows never reach scoring.

    Scale shape (the corpus is the big side, the query set is bounded):

    - the QUERY set is broadcast (``F.broadcast(q)`` on the build side of
      the nested-loop join) and the corpus is the streamed side — one
      map-only scan of the corpus, no corpus shuffle, arbitrarily wide
      parallelism;
    - scoring stays JVM-side (zip_with/aggregate higher-order functions);
    - each partition then reduces its scored rows to a LOCAL top-k per
      query (Arrow-batched incremental kernel over 3 scalar columns, state
      bounded at k·|Q| rows), so the final exact rank-window shuffle
      carries ≤ k · num_partitions candidates per query instead of
      |corpus| rows per query. At 100 TB the wide |Q|·|C| score relation
      never hits a shuffle.
    """
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ]
    cond = F.col("query_id") != F.col("neighbor_id")
    if exclude_label_col is not None:
        q_cols.append(F.col(exclude_label_col).alias("__q_label"))
        c_cols.append(F.col(exclude_label_col).alias("__c_label"))
        cond = cond & ~F.col("__q_label").eqNullSafe(F.col("__c_label"))
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    sim = cosine(F.col("qv"), F.col("cv"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    # Corpus on the left (streamed), broadcast queries on the right
    # (build side): the one join order that survives an unbounded corpus.
    # NaN cosines (zero-norm vectors) are dropped BEFORE the prune: pandas
    # sorts NaN last but Spark's desc() sorts NaN first, so keeping them
    # would let the pruned and unpruned plans disagree on which rows
    # survive. A zero-norm vector has no defined direction — excluding it
    # from ranking is the only order both engines agree on.
    scored = (
        c.join(F.broadcast(q), cond)
        .select("query_id", "neighbor_id", sim.alias("cos"))
        .filter(F.col("cos").isNotNull() & ~F.isnan(F.col("cos")))
    )

    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {q_id_t}, neighbor_id {c_id_t}, cos double"
    return _rank_partial_topk(scored, k, out_schema)


def _partial_topk_kernel(k: int):
    """Per-partition incremental top-k reducer over (query_id,
    neighbor_id, cos) Arrow batches — state bounded at k rows per query
    seen in the partition."""
    import pandas as pd

    def partial_topk(batches):
        # Incremental per-partition top-k: fold each Arrow batch into a
        # buffer capped at k rows per query, emit once per partition.
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            both = pdf if buf is None else pd.concat([buf, pdf], ignore_index=True)
            both = both.sort_values(
                ["query_id", "cos", "neighbor_id"],
                ascending=[True, False, True],
            )
            buf = both.groupby("query_id", sort=False).head(k)
        if buf is not None and len(buf):
            yield buf

    return partial_topk


def _rank_partial_topk(scored: DataFrame, k: int, out_schema: str) -> DataFrame:
    """Local per-partition top-k prune, then the exact global rank window
    over ≤ k · num_partitions survivors per query."""
    from pyspark.sql import Window

    pruned = scored.mapInPandas(_partial_topk_kernel(k), out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int | None = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor (query),
    the top-k most-cosine-similar corpus vectors with a DIFFERENT label —
    "looks like the anchor, isn't the anchor's class", the negatives that
    actually move a contrastive loss.

    Exactly ``cosine_topk`` with the label exclusion pushed into its
    broadcast-join condition (``exclude_label_col``) — one kernel, no
    second copy of the scoring pipeline. Label equality is null-safe
    (two NULL labels count as the same class and are excluded).

    Output: query_id, neighbor_id, cos, rank.
    """
    return cosine_topk(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        exclude_label_col=label_col,
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — tiled block matrix product.

    Brute-force all-pairs is inherently O(N²) *compute*; the scalable
    shape makes everything else O(N): the corpus is hashed into
    ``n_blocks`` disjoint blocks, each of the n_blocks·(n_blocks+1)/2
    block PAIRS is routed (via a broadcast routing table) to one task,
    and the task computes the dense tile product ``A @ B.T`` with
    vectorized BLAS, emitting only above-threshold pairs.

    Scale properties: nothing is collected to the driver and no matrix is
    broadcast — each row travels through exactly ONE shuffle, replicated
    to its n_blocks tile slots (volume = n_blocks·N rows), and per-task
    memory is bounded at ~2·N/n_blocks vectors. Pick
    ``n_blocks ≈ 2·N·dim·8B / task_memory_budget`` so tiles always fit:
    growing N grows the number of tasks, never the per-task footprint.
    No N² rows are ever materialized pre-filter. (The previous form
    broadcast the full corpus matrix after a driver ``toPandas()`` — the
    driver pull died first at scale; this keeps the BLAS tile product and
    drops both bottlenecks.)
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    blocked = base.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )

    # Routing table: block i participates in tile (i,j) as the Left side
    # for j>i, as the Right side for j<i, and once as Diagonal for j==i.
    routes, pair = [], 0
    for i in range(n_blocks):
        for j in range(i, n_blocks):
            if i == j:
                routes.append((i, pair, "D"))
            else:
                routes.append((i, pair, "L"))
                routes.append((j, pair, "R"))
            pair += 1
    routing = spark.createDataFrame(routes, "blk int, pair int, side string")
    tiled = blocked.join(F.broadcast(routing), "blk")

    id_field = base.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_field}, id_b {id_field}, cos double"
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})

    def tile_product(key, pdf):
        if (pdf["side"] == "D").any():
            left = right = pdf
            diagonal = True
        else:
            left = pdf[pdf["side"] == "L"]
            right = pdf[pdf["side"] == "R"]
            diagonal = False
        if len(left) == 0 or len(right) == 0:
            return empty
        A = np.vstack(left["v"].to_numpy())
        aid = left["id"].to_numpy()
        B = np.vstack(right["v"].to_numpy())
        bid = right["id"].to_numpy()
        S = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        if round_digits is not None:
            S = np.round(S, round_digits)
        ii, jj = np.nonzero(S >= threshold)
        la, lb = aid[ii], bid[jj]
        if diagonal:
            keep = la < lb  # drops self-pairs and the mirrored ordering
        else:
            keep = np.ones(len(la), dtype=bool)  # disjoint blocks: la != lb
        return pd.DataFrame(
            {
                "id_a": np.minimum(la[keep], lb[keep]),
                "id_b": np.maximum(la[keep], lb[keep]),
                "cos": S[ii, jj][keep],
            }
        )

    return tiled.groupBy("pair").applyInPandas(tile_product, out_schema)


def _unit_rows(M):
    """Rows of ``M`` at unit length, rounded to 7dp (k-means and IVF)."""
    import numpy as np

    return np.round(
        M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12), 7
    )


def _kmeans_centroids(
    base: DataFrame,
    n_centroids: int,
    n_iters: int = 5,
    sample_per_centroid: int = 500,
) -> "np.ndarray":  # noqa: F821 — numpy imported lazily
    """Deterministic spherical k-means over a bounded training sample
    (see ``ivf_topk``).

    ``base`` must have columns ``id`` and ``v array<double>``. Returns a
    row-normalized (n_centroids × dim) centroid matrix.

    Why sample-trained, not full-corpus Lloyd: every distributed Lloyd
    round is a FULL corpus scan — at 100 TB, k-means over the whole
    corpus costs n_iters extra passes before the single assignment pass
    the index actually needs. Training on a hash-spread sample
    (``n_centroids·sample_per_centroid`` vectors ≈ a few MB; TakeOrdered
    on ``md5(id)``, so unbiased even when ids correlate with content)
    bounds the driver pull and makes index build cost ONE distributed
    pass regardless of corpus size — the standard IVF training shape.
    Init is deterministic maximin (k-means++-style farthest-point) from
    the sample; Lloyd then runs locally in numpy.

    Every step is replayable by an SQL engine CTE-for-CTE
    (``gate_oracles._kmeans_replay_parts``): the sample key
    ``md5(CAST(id AS STRING))`` is one both engines compute, normalized
    vectors round to 7dp and every similarity to 6dp before any
    argmin/argmax (so float summation-order differences between numpy
    and an SQL engine can never flip a comparison), and centroids
    re-round to 7dp each round. Lloyd stops early only on an exact
    fixed point: a round is a pure function of ``C``, so once it
    returns ``C`` every later round would too, and the result equals
    running all ``n_iters`` rounds.
    """
    import numpy as np

    cand = (
        base.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(n_centroids * sample_per_centroid)
        .select("v")
        .toPandas()
    )
    X = _unit_rows(np.vstack(cand["v"].to_numpy()))

    # deterministic maximin init: start from the first sample row,
    # repeatedly add the row farthest (in cosine distance) from every
    # chosen seed; argmin ties take the first row in sample order.
    chosen = [0]
    min_sim = np.round(X @ X[0], 6)
    while len(chosen) < min(n_centroids, len(X)):
        nxt = int(np.argmin(min_sim))
        chosen.append(nxt)
        min_sim = np.maximum(min_sim, np.round(X @ X[nxt], 6))
    C = X[chosen]

    # local spherical Lloyd on the sample
    for _ in range(n_iters):
        a = np.argmax(np.round(X @ C.T, 6), axis=1)
        newC = C.copy()
        for j in range(C.shape[0]):
            members = X[a == j]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 1e-12:
                    newC[j] = np.round(m / nrm, 7)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    n_iters: int = 5,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF (inverted-file) probing.

    Index build: deterministic sample-trained spherical k-means
    (``_kmeans_centroids``) — hash-spread bounded sample, maximin init,
    local Lloyd. The FULL corpus is touched exactly once: every vector is
    assigned to its nearest final centroid with a broadcast +
    ``mapInPandas`` argmax (map-only, BLAS batch); the assignment
    shuffles only (id, cluster).

    Query: each query probes its ``n_probe`` nearest centroids, joins the
    inverted file on cluster id, scores candidates exactly, and ranks.
    Scanned fraction ≈ n_probe / n_centroids of the corpus — the knob
    that makes brute-force-quality search affordable at scale. Recall is
    approximate (a true neighbor in an unprobed cluster is missed) but
    DETERMINISTIC given the index, and the whole pipeline — centroid
    training, assignment, probing, scoring, rank — is cross-engine
    replayable (see ``_kmeans_centroids``; normalized vectors round to
    7dp and every centroid similarity to 6dp before any argmax, ties
    break to the lowest cluster id), so an SQL oracle re-derives it
    CTE-for-CTE (``gate_oracles._ivf_oracle``); exact-recall checks vs
    ``cosine_topk`` live in tests/test_llmdata.py.
    """
    import numpy as np

    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    C = _kmeans_centroids(base, n_centroids, n_iters=n_iters)
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    def _sims(M, Cn):
        return np.round(M @ Cn.T, 6)

    def assign(batches):
        Cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _unit_rows(np.vstack(pdf["v"].to_numpy()))
            pdf = pdf[["id", "v"]].copy()
            # ties take the lowest cluster id (argmax first occurrence)
            pdf["cluster"] = np.argmax(_sims(A, Cn), axis=1).astype("int32")
            yield pdf

    inverted = base.mapInPandas(assign, "id long, v array<double>, cluster int")

    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )

    def probe(batches):
        Cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _unit_rows(np.vstack(pdf["qv"].to_numpy()))
            # stable sort: equal similarities keep centroid-id order, so
            # the probe set is engine-reproducible
            near = np.argsort(-_sims(Q, Cn), axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe), ["query_id", "qv"]]
            out["cluster"] = near.ravel().astype("int32")
            yield out

    probed = qbase.mapInPandas(probe, "query_id long, qv array<double>, cluster int")

    sim = cosine(F.col("qv"), F.col("v"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)

    from pyspark.sql import Window

    scored = (
        probed.join(inverted, "cluster")
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"), sim.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplane(num_planes: int, dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via a simple
    integer hash (xorshift-style) — reproducible across runs/engines."""
    out = []
    for j in range(dim):
        h = (plane * 1_000_003 + j * 7_919 + 12_345) & 0xFFFFFFFF
        h ^= h >> 13
        h = (h * 2_654_435_761) & 0xFFFFFFFF
        h ^= h >> 16
        out.append(((h % 2_000_001) / 1_000_000.0) - 1.0)  # [-1, 1]
    return out


def sign_lsh_bucket_table(
    df: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 2,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, tbl, bucket) sign-LSH bucket index over an embedding table —
    the embedding-space sibling of ``dedup._band_table``, shared by
    ``lsh_bucketed_neighbors`` (self-join) and
    ``incremental_semantic_neardup`` (delta joins a STORED index): a
    production pipeline computes this once per corpus snapshot, persists
    it, and every delta only buckets itself.

    Bucket keys come from ONE Arrow-batched ``mapInPandas`` matrix
    product (vectors × all planes of all tables at once — a single BLAS
    GEMM per batch; see lsh_bucketed_neighbors for why that beats
    unrolled Column expressions). ``max_bucket`` keeps each (tbl,
    bucket)'s lowest ids, deterministically."""
    import numpy as np

    from pyspark.sql import Window

    vec = F.col(vec_col).cast("array<double>")
    vecs = df.select(F.col(id_col).alias("id"), vec.alias("v"))
    id_t = vecs.schema["id"].dataType.simpleString()

    P = np.array(
        [
            _hyperplane(num_planes, dim, p)
            for p in range(num_tables * num_planes)
        ]
    ).T  # dim × total_planes
    weights = np.tile(2 ** np.arange(num_planes), num_tables)

    def bucket_keys(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy())  # n × dim
            bits = (V @ P >= 0).astype(np.int64) * weights
            buckets = bits.reshape(len(pdf), num_tables, num_planes).sum(
                axis=2
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(num_tables),
                    "tbl": np.tile(np.arange(num_tables), len(pdf)).astype(
                        "int32"
                    ),
                    "bucket": buckets.ravel(),
                }
            )

    keyed = vecs.mapInPandas(bucket_keys, f"id {id_t}, tbl int, bucket long")
    if max_bucket is not None:
        w = Window.partitionBy("tbl", "bucket").orderBy("id")
        keyed = (
            keyed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_bucket)
            .drop("rn")
        )
    return keyed


def lsh_bucketed_neighbors(
    corpus: DataFrame,
    threshold: float = 0.3,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 2,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Near-neighbor pairs (cos ≥ threshold) via multi-table sign-LSH
    candidate buckets + exact verification.

    ``num_tables`` independent hash tables, each keyed by the sign bits
    against ``num_planes`` deterministic hyperplanes (table t uses planes
    t·num_planes … (t+1)·num_planes−1, so tables never share a plane).
    A pair at angle θ collides in one table with P=(1-θ/π)^num_planes and
    is a candidate if it collides in ANY table: recall =
    1-(1-P)^num_tables — tune num_planes down / num_tables up for recall,
    the reverse for pruning. Exact verification keeps precision at 1.

    Scale shape: candidate generation is ID-ONLY — each table's self-join
    shuffles (id, bucket) rows, never vectors; candidates from all tables
    are unioned and de-duplicated, and payload vectors are re-fetched by
    id once for the exact check (same pattern as the MinHash-LSH band
    join, dedup.py). ``max_bucket`` caps any hot bucket (a degenerate
    region of the embedding space would otherwise go quadratic): buckets
    keep their ``max_bucket`` lowest ids, deterministically, and the cap
    is a documented recall trade — pairs both of whose members fall past
    the cap in every colliding table are missed.

    The bucket keys are computed in ONE Arrow-batched ``mapInPandas``
    matrix product (vectors × all planes of all tables at once): a single
    BLAS GEMM per batch replaces num_tables·num_planes unrolled
    higher-order-function expressions whose generated code blows past the
    JIT's happy path (measured ~4× slower than the GEMM on first run).
    Map-only — the corpus is scanned once, no shuffle before the
    (id, tbl, bucket) exchange.
    """
    keyed = sign_lsh_bucket_table(
        corpus,
        num_planes=num_planes,
        dim=dim,
        num_tables=num_tables,
        max_bucket=max_bucket,
        id_col=id_col,
        vec_col=vec_col,
    )

    a, b = keyed.alias("a"), keyed.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # payload vectors re-fetched by id ONLY for the exact check — the
    # candidate join above never shuffles them; the dot/norm arithmetic
    # runs in the ordered Arrow kernel (_pair_dot_norms), try_divide +
    # HALF_UP rounding stay Column-side
    vec = F.col(vec_col).cast("array<double>")
    vecs = corpus.select(F.col(id_col).alias("id"), vec.alias("v"))
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    raw = _pair_dot_norms(
        candidates.join(va, "id_a").join(vb, "id_b"), ["id_a", "id_b"]
    )
    sim = F.try_divide(F.col("__dot"), F.col("__nprod"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return raw.select("id_a", "id_b", sim.alias("cos")).filter(
        F.col("cos") >= threshold
    )


def incremental_semantic_neardup(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.3,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 2,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_index: DataFrame | None = None,
    round_digits: int | None = 4,
) -> DataFrame:
    """Semantic near-dup screening of a DELTA snapshot against an
    existing CORPUS in embedding space — the embedding-side sibling of
    ``dedup.incremental_neardup`` (r06 verdict item 4): a continuously
    embedded corpus should never re-bucket 100 TB per snapshot just to
    admit a day's crawl.

    Pass ``corpus_index`` = a persisted ``sign_lsh_bucket_table`` of the
    corpus and the per-snapshot cost is O(delta) bucketing (one GEMM
    over the delta) + the (tbl, bucket) candidate join — ids only on the
    wire; the corpus' embedding store is touched ONLY to fetch the
    candidate vectors by id for exact-cosine verification. With
    ``corpus_index=None`` the index is computed in-line (same result,
    re-bucketing cost included).

    Output: one row per delta vector — (id_col, is_near_dup,
    best_match_id, best_cos), best = highest ROUNDED cosine, lowest
    corpus id on ties, so every engine ranks identically. Candidate
    recall is the sign-LSH 1-(1-(1-θ/π)^planes)^tables curve — tune
    planes down / tables up toward exhaustive (the gate entry runs 2×16:
    miss ≤ 1e-3 per qualifying pair, deterministic), the reverse for
    pruning."""
    from pyspark.sql import Window

    bc = (
        corpus_index
        if corpus_index is not None
        else sign_lsh_bucket_table(
            corpus,
            num_planes=num_planes,
            dim=dim,
            num_tables=num_tables,
            max_bucket=max_bucket,
            id_col=id_col,
            vec_col=vec_col,
        )
    )
    bd = sign_lsh_bucket_table(
        delta,
        num_planes=num_planes,
        dim=dim,
        num_tables=num_tables,
        max_bucket=max_bucket,
        id_col=id_col,
        vec_col=vec_col,
    )
    candidates = (
        bd.alias("d")
        .join(
            bc.alias("c"),
            (F.col("d.tbl") == F.col("c.tbl"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(F.col("d.id").alias("id_d"), F.col("c.id").alias("id_c"))
        .dropDuplicates(["id_d", "id_c"])
    )
    vec = F.col(vec_col).cast("array<double>")
    vd = delta.select(F.col(id_col).alias("id_d"), vec.alias("va"))
    vc = corpus.select(F.col(id_col).alias("id_c"), vec.alias("vb"))
    raw = _pair_dot_norms(
        candidates.join(vd, "id_d").join(vc, "id_c"), ["id_d", "id_c"]
    )
    sim = F.try_divide(F.col("__dot"), F.col("__nprod"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    verified = raw.select("id_d", "id_c", sim.alias("cos")).filter(
        F.col("cos") >= threshold
    )
    w = Window.partitionBy("id_d").orderBy(
        F.col("cos").desc(), F.col("id_c").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_d").alias(id_col),
            F.col("id_c").alias("best_match_id"),
            F.col("cos").alias("best_cos"),
        )
    )
    return (
        delta.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("best_match_id").isNotNull().alias("is_near_dup"),
            "best_match_id",
            "best_cos",
        )
    )


# ------------------------------------------------------- int8 quantization

def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: codes =
    floor(x·127/max|x| + 0.5) stored as ``array<tinyint>`` — 4× smaller
    than float32 (8× vs the double math), which at 100 TB is the
    difference between an ANN working set that fits executor memory and
    one that doesn't.

    The rounding is an explicit ``floor(y + 0.5)`` (round-half-up),
    NOT ``round``: half-way cases are then pinned identically on every
    engine (``round`` is HALF_UP in Spark, half-away-from-zero in
    DuckDB, half-to-even in numpy — the one code-table ambiguity that
    kept this tier rows-only through r08).

    Because cosine is scale-invariant PER VECTOR, the per-vector scale
    divides out of every cosine — distances run directly on the int8
    codes with no dequantization and no scale column in the hot path
    (only rounding noise remains; recall vs float is property-tested).
    Zero vectors quantize to zero codes and are excluded by the same
    NaN-cosine guard as the float path."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.transform(
        v, lambda x: F.floor(x * 127.0 / scale + 0.5).cast("byte")
    )
    return df.select(
        F.col(id_col),
        F.when(scale > 0, codes).otherwise(
            F.transform(v, lambda x: F.lit(0).cast("byte"))
        ).alias("codes"),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the int8-quantized corpus: quantize both sides,
    then run the same broadcast-queries/stream-corpus kernel on the code
    arrays (cosine_topk casts to double internally — the codes ARE the
    vectors). Same plan shape, quarter the scan bytes."""
    cq = quantize_embeddings(corpus, vec_col, id_col).withColumnRenamed(
        "codes", vec_col
    )
    qq = quantize_embeddings(queries, vec_col, id_col).withColumnRenamed(
        "codes", vec_col
    )
    return cosine_topk(cq, qq, k=k, id_col=id_col, vec_col=vec_col)


def random_projection(
    emb: DataFrame,
    out_dims: int = 8,
    in_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "s4f-rp",
    round_digits: int = 4,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection to ``out_dims``:
    proj_j = sum_d v[d] * s(d, j) / sqrt(out_dims) with s in {-1, +1}
    drawn deterministically from md5(d, j, salt) — engine-independent,
    so any system (and the DuckDB oracle) rebuilds the SAME matrix from
    the salt alone, no matrix to ship or store.

    The workhorse in front of large-scale ANN: distances are preserved
    within (1±eps) w.h.p. while the vector payload shrinks 8x (here
    64->8), which is the difference between shuffling 256 B and 32 B
    per row in every downstream block/banded join. Map-only, zero
    shuffle. Output columns p0..p{k-1}.

    r14 (guide §4.2): the multiply-accumulate runs as ONE Arrow-batched
    ``mapInPandas`` NumPy kernel instead of out_dims × in_dims unrolled
    Column terms — the 512-term expression tree compiled a generated
    method past the JIT's limits and spent seconds in janino per
    session (46 KB plan) to do 2000 rows of trivial math. The kernel
    accumulates IN THE SAME ORDER as the old Column fold (acc starts
    at +0.0, then += v[d]·s_dj·inv for d ascending — each step one IEEE
    double multiply and add), so sums are bit-identical; rounding stays
    in Column land (``F.round`` is HALF_UP via BigDecimal — NumPy's
    half-even would diverge at .5 boundaries).
    """
    import hashlib
    import math

    import numpy as np

    def sign(d: int, j: int) -> int:
        h = hashlib.md5(f"{d}-{j}-{salt}".encode()).hexdigest()
        return 1 if h[0] < "8" else -1

    inv = 1.0 / math.sqrt(out_dims)
    S = np.array(
        [[sign(d, j) * inv for j in range(out_dims)] for d in range(in_dims)]
    )  # in_dims × out_dims

    id_t = emb.schema[id_col].dataType.simpleString()
    raw_cols = [f"__rp{j}" for j in range(out_dims)]

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL / too-short vectors produced NULL p-columns in the
            # old Column form (element_at past the end is NULL and
            # poisons the fold); mask them to NaN — the Arrow writer
            # turns float NaN into NULL — instead of letting vstack
            # crash the executor on ragged input (r15, ADVICE)
            vals = pdf["__v"].to_numpy()
            ok = np.array(
                [v is not None and len(v) >= in_dims for v in vals],
                dtype=bool,
            )
            acc = np.full((len(pdf), out_dims), np.nan)
            if ok.any():
                V = np.vstack([v[:in_dims] for v in vals[ok]])  # k × in_dims
                a = np.zeros((int(ok.sum()), out_dims))
                # ordered accumulation — same IEEE op sequence as the old
                # Column fold (and the DuckDB oracle's ordered SUM)
                for d in range(in_dims):
                    a = a + V[:, d : d + 1] * S[d]
                acc[ok] = a
            out = {"__id": pdf["__id"].to_numpy()}
            for j in range(out_dims):
                out[raw_cols[j]] = acc[:, j]
            yield pd.DataFrame(out)

    raw = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).mapInPandas(
        project,
        f"__id {id_t}, " + ", ".join(f"{c} double" for c in raw_cols),
    )
    # + 0.0 collapses IEEE -0.0 to +0.0 (stringified engine compares)
    return raw.select(
        F.col("__id").alias(id_col),
        *[
            (F.round(F.col(raw_cols[j]), round_digits) + F.lit(0.0)).alias(
                f"p{j}"
            )
            for j in range(out_dims)
        ],
    )
