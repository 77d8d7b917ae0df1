"""DuckDB oracle builders shared by gate queries — the CTE-for-CTE
replay chains too large to inline at their registration sites (the
k-means family: cluster-balanced sampling, IVF top-k)."""

from __future__ import annotations


def _kmeans_replay_parts(
    k: int, iters: int, sample_per_centroid: int = 500
) -> list[str]:
    """Shared DuckDB CTE chain replaying ``_kmeans_centroids`` over
    the embeddings table (the host_pagerank certification pattern
    applied to a LEARNED-parameter pipeline): ``base`` = 7dp-rounded
    normalized vectors, maximin seeding (s*/m*) in sample order,
    ``iters`` spherical Lloyd rounds (a*/n*/g*/c*), and ``af`` = every
    vector's final nearest-centroid assignment. Similarities round to
    6dp before every argmin/argmax (ties to the lowest cluster id), so
    numpy-vs-SQL float summation order can never flip a comparison.
    Every CTE is AS MATERIALIZED: the Lloyd rounds and the maximin
    chain each reference the previous round more than once, and DuckDB
    re-inlines plain CTEs per reference — the chain goes exponential
    without materialization (k=8/iters=3 hung; materialized it runs in
    milliseconds). Consumed by both the cluster-balanced sampling
    oracle and the IVF top-k oracle.

    Training runs on ``tbase`` — the first ``k·sample_per_centroid``
    rows by ``(md5(CAST(id AS VARCHAR)), id)``, the key and bound
    ``_kmeans_centroids`` samples by; only the FINAL assignment ``af``
    scans every vector, exactly like the Spark side's one full-corpus
    pass. Maximin ties break in that sample order (``ms, h, id``), as
    numpy's ``argmin`` takes the first row."""
    parts = [
        """base AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding,
            x -> round(CAST(x AS DOUBLE) / greatest(sqrt(list_sum(
                 list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))),
                 1e-12), 7)) AS v
  FROM embeddings
)""",
        "tbase AS MATERIALIZED (SELECT id, v, md5(CAST(id AS VARCHAR))"
        f" AS h FROM base ORDER BY h, id LIMIT {k * sample_per_centroid})",
        "s0 AS MATERIALIZED (SELECT v FROM tbase ORDER BY h, id LIMIT 1)",
        "m0 AS MATERIALIZED (SELECT b.id, b.h, b.v, round(list_dot_product("
        "b.v, (SELECT v FROM s0)), 6) AS ms FROM tbase b)",
    ]
    for j in range(1, k):
        parts.append(
            f"s{j} AS MATERIALIZED (SELECT v FROM m{j-1}"
            " ORDER BY ms, h, id LIMIT 1)"
        )
        if j < k - 1:
            parts.append(
                f"m{j} AS MATERIALIZED (SELECT id, h, v, greatest(ms, round("
                f"list_dot_product(v, (SELECT v FROM s{j})), 6)) AS ms "
                f"FROM m{j-1})"
            )
    seeds = " UNION ALL ".join(
        f"SELECT {j} AS cid, (SELECT v FROM s{j}) AS v" for j in range(k)
    )
    parts.append(f"c0 AS MATERIALIZED ({seeds})")
    assign = """a{o} AS MATERIALIZED (SELECT id, v, cid FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id
               ORDER BY round(list_dot_product(b.v, c.v), 6) DESC,
                        c.cid) AS rn
    FROM tbase b CROSS JOIN c{i} c) WHERE rn = 1)"""
    for t in range(1, iters + 1):
        parts.append(assign.format(o=t, i=t - 1))
        parts.append(
            f"""n{t} AS MATERIALIZED (SELECT cid, d, avg(x) AS mx FROM (
    SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS d
    FROM a{t}) GROUP BY cid, d)"""
        )
        parts.append(
            f"g{t} AS MATERIALIZED (SELECT cid, list(mx ORDER BY d) AS m "
            f"FROM n{t} GROUP BY cid)"
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (SELECT c.cid,
    CASE WHEN g.cid IS NOT NULL
              AND sqrt(list_sum(list_transform(g.m, x -> x * x))) > 1e-12
         THEN list_transform(g.m, x -> round(x / sqrt(list_sum(
              list_transform(g.m, y -> y * y))), 7))
         ELSE c.v END AS v
    FROM c{t-1} c LEFT JOIN g{t} g ON c.cid = g.cid)"""
        )
    parts.append(
        """af AS MATERIALIZED (SELECT id, cid FROM (
    SELECT b.id, c.cid,
           row_number() OVER (PARTITION BY b.id
               ORDER BY round(list_dot_product(b.v, c.v), 6) DESC,
                        c.cid) AS rn
    FROM base b CROSS JOIN c%d c) WHERE rn = 1)"""
        % iters
    )
    return parts


def _cluster_balanced_oracle(
    k: int = 5, iters: int = 3, cap: int = 20, salt: str = "s4f-cluster"
) -> str:
    """CTE-for-CTE DuckDB replay of cluster_balanced_sample: the
    shared k-means chain
    (``_kmeans_replay_parts``) plus the md5 per-cluster cap."""
    parts = _kmeans_replay_parts(k, iters)
    tail = f"""
SELECT id AS vec_id, cid AS cluster_id, CAST(rnk AS INT) AS sample_rank
FROM (SELECT id, cid,
        row_number() OVER (PARTITION BY cid
            ORDER BY md5(CAST(id AS VARCHAR) || '{salt}')) AS rnk
      FROM af)
WHERE rnk <= {cap}"""
    return "WITH " + ",\n".join(parts) + tail


def _ivf_oracle(
    k_centroids: int, iters: int, n_probe: int, topk: int, q_limit: int
) -> str:
    """CTE-for-CTE DuckDB replay of ``ivf_topk``: the shared k-means
    chain trains the centroids, ``af`` is the
    inverted file, each query (id < q_limit) probes its ``n_probe``
    nearest centroids (6dp sims, ties to the lowest cid), and probed
    candidates are scored with exact 4dp cosine over the RAW vectors
    and ranked."""
    parts = _kmeans_replay_parts(k_centroids, iters)
    parts.append(
        f"q AS (SELECT id AS query_id, v AS qv FROM base"
        f" WHERE id < {q_limit})"
    )
    parts.append(
        f"""pr AS (SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY round(list_dot_product(q.qv, c.v), 6) DESC,
                        c.cid) AS rn
    FROM q CROSS JOIN c{iters} c) WHERE rn <= {n_probe})"""
    )
    parts.append(
        "raw AS (SELECT vec_id AS id, embedding::DOUBLE[] AS rv"
        " FROM embeddings)"
    )
    parts.append(
        """scored AS (
    SELECT pr.query_id, af.id AS neighbor_id,
           ROUND(list_dot_product(qr.rv, nr.rv)
                 / (sqrt(list_dot_product(qr.rv, qr.rv))
                    * sqrt(list_dot_product(nr.rv, nr.rv))), 4) AS cos
    FROM pr JOIN af ON pr.cid = af.cid
    JOIN raw qr ON qr.id = pr.query_id
    JOIN raw nr ON nr.id = af.id
    WHERE af.id <> pr.query_id)"""
    )
    tail = f"""
SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM scored)
WHERE rnk <= {topk}"""
    return "WITH " + ",\n".join(parts) + tail

def _sign_lsh_table_exprs(
    num_planes: int, dim: int, num_tables: int
) -> list[str]:
    """One DuckDB bucket expression per LSH table, rebuilding the SAME
    deterministic hyperplanes as ``simsearch._hyperplane`` (the integer
    hash is engine-independent, so the plane constants are emitted as
    repr'd double literals — both engines parse them to identical
    doubles): bucket = Σ_p (dot(v, plane_p) >= 0) · 2^p."""
    from stream4flow_spark.llmdata.simsearch import _hyperplane

    tables = []
    for t in range(num_tables):
        terms = []
        for p in range(num_planes):
            plane = _hyperplane(num_planes, dim, t * num_planes + p)
            consts = ", ".join(repr(c) for c in plane)
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{consts}]) >= 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        tables.append(" + ".join(terms))
    return tables


def _lsh_keyed_ctes(
    num_planes: int, dim: int, num_tables: int, threshold: float
) -> str:
    """CTEs e (raw double vectors), k (the (id, tbl, bucket) index —
    ``sign_lsh_bucket_table`` replayed), cand (co-bucketed id pairs)
    and pairs (4dp-cosine-verified ≥ threshold) — the shared front of
    the sign-LSH oracles. The 10k hot-bucket cap is omitted: it cannot
    trigger on the gate tables (500 vectors)."""
    tabs = _sign_lsh_table_exprs(num_planes, dim, num_tables)
    keyed = "\n    UNION ALL\n    ".join(
        f"SELECT id, {t} AS tbl, ({expr}) AS bucket FROM e"
        for t, expr in enumerate(tabs)
    )
    return f"""
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
k AS ({keyed}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM k a JOIN k b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
pairs AS (
    SELECT c.id_a, c.id_b,
           ROUND(list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v))
                    * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
    FROM cand c JOIN e x ON c.id_a = x.id JOIN e y ON c.id_b = y.id
    WHERE ROUND(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 4) >= {threshold})
"""


def _lsh_neighbors_oracle(
    threshold: float = 0.3,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 2,
) -> str:
    """DuckDB replay of ``lsh_bucketed_neighbors``: deterministic
    hyperplane bucketing, id-only candidate join, exact 4dp-cosine
    verification."""
    ctes = _lsh_keyed_ctes(num_planes, dim, num_tables, threshold)
    return f"WITH {ctes} SELECT id_a, id_b, cos FROM pairs"


def _semantic_dedup_lsh_oracle(
    threshold: float = 0.3,
    num_planes: int = 4,
    dim: int = 64,
    num_tables: int = 12,
) -> str:
    """DuckDB replay of llm_semantic_dedup_lsh: the sign-LSH verified
    pair graph, then transitive closure (recursive CTE, component = min
    reachable id — the llm_dedup_components oracle pattern) and the
    keeper projection over every vector."""
    ctes = _lsh_keyed_ctes(num_planes, dim, num_tables, threshold)
    return f"""
WITH RECURSIVE {ctes},
ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
       UNION ALL SELECT id_b, id_a FROM pairs),
reach AS (
    SELECT DISTINCT src AS id, src AS r FROM ed
    UNION
    SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
SELECT v.vec_id,
       CAST(coalesce(c.component, v.vec_id) AS BIGINT) AS keeper_id,
       (v.vec_id = coalesce(c.component, v.vec_id)) AS kept
FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id
"""

def _phash_neardup_oracle(max_hamming: int = 6, id_limit: int = 200) -> str:
    """DuckDB replay of llm_image_phash_neardup, from doc ids all the
    way to hamming-verified pairs:

    - the synthetic pixel rule ((doc_id + 7r + 3c + 11ch) % 256, w/h
      from the id) regenerates the grayscale 32×32 nearest-resize grid
      — the same fixture rule the multimodal decode oracle already
      certifies the PPM/BMP round-trip against;
    - the DCT basis is embedded as the SAME 12dp-rounded literals the
      Spark kernel uses (``multimodal.dct_basis``) so no engine ever
      evaluates cos();
    - the two matmul stages round to 9dp/6dp exactly like the kernel,
      the median is the exact order statistic (rank 32 of 63), bits
      pack little-endian over the DC-dropped 8×8 block;
    - pairs replay the 8×8-bit chunk banding + bit_count(xor) verify
      (the SimHash oracle pattern). The 10k hot-bucket cap is omitted —
      it cannot trigger on 500 ids.

    ``id_limit`` bounds the input slice (the llm_ngram_jaccard
    pattern): the fixture images are near-identical gradients, so the
    honest pHash clusters them densely — an unbounded slice at bench
    SF (5000 docs) would emit millions of pairs.

    Every heavy CTE is AS MATERIALIZED (the k-means-chain lesson:
    DuckDB re-inlines plain CTEs per reference)."""
    from stream4flow_spark.llmdata.multimodal import dct_basis

    dflat = ", ".join(repr(x) for x in dct_basis(32).ravel())
    return f"""
WITH dl AS MATERIALIZED (SELECT [{dflat}] AS d),
dm AS MATERIALIZED (
    SELECT CAST(u AS INT) AS u, CAST(i AS INT) AS i,
           d[CAST(u * 32 + i + 1 AS INT)] AS val
    FROM dl, range(0, 32) t1(u), range(0, 32) t2(i)),
doc AS (SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
        FROM documents WHERE doc_id < {id_limit}),
g AS MATERIALIZED (
    SELECT doc_id, ii.i, jj.j,
           (( (doc_id + 7*((ii.i * h) // 32) + 3*((jj.j * w) // 32)) % 256
            + (doc_id + 7*((ii.i * h) // 32) + 3*((jj.j * w) // 32) + 11) % 256
            + (doc_id + 7*((ii.i * h) // 32) + 3*((jj.j * w) // 32) + 22) % 256
            ) / 3.0) AS v
    FROM doc, range(0, 32) ii(i), range(0, 32) jj(j)),
t AS MATERIALIZED (
    SELECT g.doc_id, dm.u, g.j, round(SUM(dm.val * g.v), 9) AS tv
    FROM g JOIN dm ON dm.i = g.i WHERE dm.u < 8
    GROUP BY 1, 2, 3),
co AS MATERIALIZED (
    SELECT t.doc_id, t.u, dm.u AS v2, round(SUM(t.tv * dm.val), 6) AS coeff
    FROM t JOIN dm ON dm.i = t.j WHERE dm.u < 8
    GROUP BY 1, 2, 3),
blk AS MATERIALIZED (
    SELECT doc_id, CAST(u * 8 + v2 - 1 AS INT) AS bit, coeff
    FROM co WHERE NOT (u = 0 AND v2 = 0)),
med AS (SELECT doc_id, coeff AS m FROM (
    SELECT doc_id, coeff,
           row_number() OVER (PARTITION BY doc_id ORDER BY coeff) AS rn
    FROM blk) WHERE rn = 32),
ph AS MATERIALIZED (
    SELECT b.doc_id AS id,
           CAST(COALESCE(SUM(CASE WHEN b.coeff > med.m
                THEN CAST(1 AS BIGINT) << b.bit ELSE 0 END), 0)
                AS BIGINT) AS phash
    FROM blk b JOIN med ON b.doc_id = med.doc_id GROUP BY 1),
ch AS MATERIALIZED (
    SELECT id, phash, CAST(c AS INT) AS c, (phash >> (CAST(c AS INT) * 8)) & 255 AS val
    FROM ph, range(0, 8) t(c)),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                a.phash AS pa, b.phash AS pb
         FROM ch a JOIN ch b
           ON a.c = b.c AND a.val = b.val AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {max_hamming}
"""
