"""Physical-plan quality gates — the properties that make queries survive
a 100 TB cluster, locked in as tests so a refactor can't silently
regress them."""

from __future__ import annotations

import pytest

from stream4flow_spark.registry import REGISTRY, queries
from tests.conftest import SF_DIR

queries()  # force registration

# Brute-force-by-design pairwise queries (bounded inputs, documented):
# the inequality-only join condition legitimately plans as a nested-loop.
# cosine_topk scores every (query, corpus) pair by definition — its
# broadcast nested-loop IS the intended "broadcast queries, scan corpus
# once" plan.
_NESTED_LOOP_OK = {
    "llm_ngram_jaccard",
    # same bounded brute-force pair source (id < 150) feeding the
    # split-label join
    "llm_split_leakage",
    "llm_ann_cosine_topk",
    # same intended plan over the int8 code arrays
    "llm_ann_quantized_topk",
    # inherits cosine_topk's broadcast-queries kernel for its vector leg
    "llm_hybrid_rrf",
    # scalar-subquery threshold: a 1-row aggregate cross-joined into the
    # probe side broadcasts that single row — the correct plan for a
    # scalar predicate (what Catalyst itself emits for scalar subqueries)
    "tpch_q22ish_dormant_customers",
    # r5, same shape: 1-row corpus constants (N, avgdl, df) / 1-row
    # global revenue total broadcast into the scoring projection
    "llm_bm25_topk",
    "tpch_q11ish_important_parts",
    # three 1-row count aggregates cross-joined into the single output
    # row — each side of every join is exactly one row
    "rel_setops_customer_years",
    # 1-row vocab/total constants cross-joined into the KL reduction
    "llm_split_drift",
    # r6: the 1-row corpus-token totals broadcast into the scoring /
    # threshold joins (plus heavy-hitters' bounded MG candidate set);
    # snapshot-drift cross-joins two 1-row cohort profiles
    "llm_unigram_logprob",
    "llm_heavy_hitters",
    "rel_snapshot_drift",
    # r7: same 1-row corpus-token total broadcast into the unigram
    # scoring join that llm_unigram_logprob carries
    "llm_perplexity_buckets",
    # r8: DSIR's 1-row target/raw gram-total aggregate broadcast into
    # the log-ratio arithmetic — build side is exactly one row
    "llm_dsir_select",
    # r8: inherits cosine_topk's broadcast-bounded-queries kernel with
    # the label exclusion in the join condition (20 anchor rows)
    "llm_hard_negatives",
    # r9: the Bloom bitmap is a 1-row aggregate (array<long> words)
    # cross-join-broadcast into the probe scan — the build side is
    # exactly one row by construction (operators/bloom.py), the same
    # scalar-broadcast shape as the BM25/DSIR constants
    "llm_decontaminate_bloom",
    # r14: the ExactSubstr dup-set Bloom prune reuses exactly that
    # llm_decontaminate_bloom shape — the dup-gram bitmap is a 1-row
    # aggregate (array<long> words) cross-join-broadcast into the gram
    # probe (llmdata/dedup.py exact_substr_dedup, commit 9156fbe)
    "llm_exact_substr_dedup",
}


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_cartesian_or_nested_loop(name, spark):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join"
        )


def test_cosine_topk_broadcasts_queries_not_corpus(spark):
    # The corpus must be the streamed side (left) and the bounded query
    # set the broadcast build side (right) — the inverse OOMs at scale.
    # The MapInPandas node is the per-partition partial top-k that keeps
    # the |Q|·|C| score relation out of the rank-window shuffle.
    plan = _plan(spark, "llm_ann_cosine_topk")
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan
    assert "MapInPandas" in plan


def test_cosine_pairs_tiles_without_driver_collect(spark):
    # Tiled all-pairs: one shuffle (block-pair routing + groupBy) and an
    # ArrowEvalPython-free, BLAS-backed FlatMapGroupsInPandas tile kernel.
    # No broadcast of the corpus matrix, no cartesian fallback.
    plan = _plan(spark, "llm_embedding_neardup")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_q5ish_broadcasts_dimensions(spark):
    # nation/region keep explicit hints (fixed-size): the static plan must
    # broadcast them. customer/orders carry NO hint — their strategy is
    # AQE's runtime call, so SMJ in the STATIC plan is acceptable; after
    # execution at this sf the adaptive plan should have converted every
    # join to broadcast (runtime sizes are tiny).
    plan = _plan(spark, "tpch_q5ish_revenue_per_region")
    assert "BroadcastHashJoin" in plan
    df = REGISTRY["tpch_q5ish_revenue_per_region"].fn(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in executed, (
        "AQE failed to convert the unhinted joins to broadcast at sf0.001"
    )


def test_no_broadcast_hint_on_scale_growing_tables():
    """No ``F.broadcast(...)`` may target customer/supplier/part/orders/
    lineitem or anything derived from them — those grow with scale factor
    and a forced broadcast OOMs executors at 100×. Only fixed-size dims
    (nation, region — 25/5 rows at every sf), 1-row scalar aggregates,
    bounded query sets, and routing tables may carry hints. Enforced by
    scanning the argument text of every broadcast call site."""
    import re
    from pathlib import Path

    allowed = {
        # fixed-size dims and bounded builds, by variable name
        "n", "r", "cn", "sn", "dim", "avg_bal", "q", "routing",
        # r5: nation dim; 1-row scalar aggregates (corpus constants /
        # max-revenue / global-total) — constant size at every sf
        "nat", "consts", "top", "total",
        # r5 later additions, all bounded by construction: packing base
        # offsets (n_buckets rows), mixture thresholds (one row per
        # targeted group), percentile bounds (one row per language),
        # split-drift's 1-row vocab/per-split-total constants
        "base", "thresh", "bounds", "vocab", "tt", "th",
        # r6: unigram LM's 1-row corpus-token total; heavy-hitters' MG
        # candidate set (≤ k × partitions rows by construction)
        "tot", "candidates",
        # r7: trigram source-overlap's per-source gram counts — one row
        # per SOURCE (bounded by the source vocabulary, not the corpus)
        "sa", "sb",
        # r8: DSIR's 1-row gram totals ("totals"), its ≤n_buckets-row
        # log-ratio table ("lam"), and the gate's LIMIT-k selection
        # ("sel") — all bounded by construction, never by the corpus
        "totals", "lam", "sel",
        # r8: rolling-distinct's observed-day set — one row per calendar
        # day in the data span (years of days is still KBs), never a
        # function of row or key count
        "days",
        # r8: personalized PageRank's seed set — a bounded teleport
        # list (victim hosts / query docs), never corpus-sized
        "seed_flags",
        # r8: c-TF-IDF's average-cluster-size constant — a 1-row
        # aggregate broadcast into the scoring projection
        "avg_cluster_tokens",
    }
    # file-scoped exemptions (ADVICE r9): names like `flt`/`tbl` are too
    # generic to allow repo-wide — a future F.broadcast(tbl) on a
    # scale-growing table elsewhere must still trip the guard. The Bloom
    # bitmap is ONE row (flt) or `shards` rows (tbl) by construction
    # (operators/bloom.py), sized by the fpp math, never the probe side.
    allowed_scoped = {
        ("bloom.py", "flt"),
        ("bloom.py", "tbl"),
        # the contamination screen's 1-row benchmark bitmap — sized by
        # the fpp math, never by the corpus/stream side
        ("decontaminate.py", "bloom_bitmap"),
        # r13: the arrival screens' flagged-id anti-join side — bounded
        # by the micro-batch's flag set (ids only, and the same rows
        # are ALREADY driver-collected by _record_alerts' alert tail),
        # never by the stored corpus; grows with trigger size, not sf
        # (the scanner's regex stops at the first close-paren, so the
        # recorded arg text is the truncated inner call)
        ("llmingest.py", 'flagged.select("id"'),
        ("llmingest.py", "flagged.select(self.id_col"),
    }
    root = Path(__file__).resolve().parent.parent / "stream4flow_spark"
    offenders = []
    for path in root.rglob("*.py"):
        for m in re.finditer(r"F\.broadcast\(([^)]*)\)", path.read_text()):
            arg = m.group(1).strip()
            if arg not in allowed and (path.name, arg) not in allowed_scoped:
                offenders.append(f"{path.name}: F.broadcast({arg})")
    assert not offenders, f"broadcast hints on scale-growing tables: {offenders}"


def test_q6_pushes_filters_and_prunes_columns(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # projection pruning: the lineitem scan must not read l_comment-ish
    # width — only the 4 columns the query touches appear in ReadSchema
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all(ln.count(":") <= 6 for ln in read)


def test_whole_stage_codegen_on_hot_aggregates(spark):
    # AQE compiles codegen only at execution: materialize, then check the
    # final plan's `*(N)` whole-stage markers on the aggregate spans
    for name in ["protocols_statistics", "host_stats", "tpch_q1_pricing_summary"]:
        df = REGISTRY[name].fn(spark, SF_DIR)
        df.collect()
        ep = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in ep and "HashAggregate" in ep, name


def test_selective_scans_push_filters(spark):
    """Selective queries must reach the parquet scan with their predicates
    (PushedFilters) — a scan that reads everything and filters later is
    the difference between touching 1% and 100% of 100 TB."""
    for name in [
        "readside_q1_range_term",   # range + term predicate on events
        "tpch_q19ish_bracket_revenue",  # part-side brackets
        "llm_corpus_select",        # documents quality floors
        "tpch_q12ish_shipmode_priority",  # one-year l_shipdate range
    ]:
        plan = _plan(spark, name)
        assert "PushedFilters: [" in plan, name
        # at least one scan carries a non-empty pushed-filter list
        pushed = [
            ln for ln in plan.splitlines()
            if "PushedFilters" in ln and "PushedFilters: []" not in ln
        ]
        assert pushed, f"{name}: no non-empty PushedFilters in any scan"


def test_documents_scans_prune_text_column(spark):
    """Queries that never touch document text must not read it: `text` is
    the wide column (the corpus!), and ReadSchema including it turns a
    metadata query into a full-corpus read."""
    plan = _plan(spark, "llm_length_stats")  # needs lang + n_chars only
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln for ln in reads), reads


def test_repetition_plan_has_zero_exchanges(spark):
    """Repetition signals fold inside each row — any Exchange in this
    plan means someone reintroduced the exploded (doc, bigram) shuffle."""
    plan = _plan(spark, "llm_repetition")
    assert "Exchange" not in plan, plan


def test_tfidf_plan_has_single_vocab_exchange(spark):
    """Corpus term stats must exchange once, at vocabulary granularity
    (map-side partial aggregate → one hash exchange keyed by term,
    followed by TakeOrderedAndProject); a second exchange means the
    (doc, term) two-level form came back."""
    import re

    plan = _plan(spark, "llm_tfidf_terms")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_reuses_user_partitioning_across_window_and_group(spark):
    """The three chained conditional window mins AND the per-user
    collapse must share ONE user-keyed exchange; only the final 1-row
    stage-count aggregate adds its SinglePartition exchange. Per-stage
    self-joins or repartitions would multiply the hash exchanges."""
    import re

    plan = _plan(spark, "rel_funnel_conversion")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert plan.count("SinglePartition") == 1, plan


def test_decontaminate_joins_on_grams_without_text_shuffle(spark):
    """Only (id, gram) rows may reach the overlap join: the document
    text column must not appear in any exchange."""
    plan = _plan(spark, "llm_decontaminate")
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_pack_sequences_bounds_the_serial_window(spark):
    """The distributed prefix sum must keep the only unpartitioned
    (single-task) window on the n_buckets-row totals table: exactly one
    SinglePartition exchange, plus a hash exchange on the bucket for the
    parallel in-bucket cumsums. A refactor that collapses the offsets to
    one global window would show a second data-sized single-partition
    sort."""
    plan = _plan(spark, "llm_pack_sequences")
    assert plan.count("SinglePartition") == 1, plan[:2000]
    assert "hashpartitioning(bucket" in plan


def test_segment_dedup_has_no_window_and_semi_joins_on_pk(spark):
    """First-occurrence selection must be the min-key AGGREGATE (state
    bounded by distinct segments), never a rank window over segment
    occurrences (a billion-copy boilerplate line would sort in one
    task); survivors return via a semi-join."""
    plan = _plan(spark, "llm_segment_dedup")
    assert "Window" not in plan
    assert "LeftSemi" in plan


def test_mixture_resample_broadcasts_thresholds(spark):
    """The per-group threshold table (≤ targeted groups rows) must be
    the broadcast side; the corpus scan must not shuffle for the keep
    filter."""
    plan = _plan(spark, "llm_mixture_resample")
    assert "BroadcastHashJoin" in plan


def test_q16ish_anti_join_before_distinct_count(spark):
    plan = _plan(spark, "tpch_q16ish_supplier_variety")
    assert "LeftAnti" in plan


def test_q20ish_single_lineitem_scan(spark):
    """The nested aggregate (per part-supplier vs per part) must come
    from ONE scan of lineitem — the per-part total is a window over the
    per-(part,supplier) aggregate, not a second scan+join."""
    plan = _plan(spark, "tpch_q20ish_excess_suppliers")
    # formatted mode prints each scan node twice (tree + details)
    assert plan.count("Scan parquet") // 2 <= 3, plan[:1500]


def test_embedding_stats_partial_aggs_the_explode(spark):
    """The centroid's posexplode looks like an O(N×d) shuffle, but the
    per-(label, dim) average must partially aggregate map-side so the
    wire carries tasks × labels × dims rows. A plan where the Generate
    feeds the exchange directly re-shuffles every exploded element."""
    df = REGISTRY["llm_embedding_stats"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    gen = plan.index("Generate posexplode")
    # the partial aggregate on (label, pos) sits between the explode and
    # its exchange — i.e. it appears BEFORE the explode in the printed
    # top-down tree, and no Exchange line sits between them
    upstream = plan[:gen].rsplit("Exchange", 1)
    assert "partial_avg" in upstream[-1], plan[:gen]


# Queries whose plan legitimately carries an Exchange SinglePartition
# feeding a Window — each one's input is bounded by construction, not
# data-sized (the doctor can't know that statically, CI can):
#   llm_pack_sequences   level-2 prefix-sum window over <=256 task rows
#                        (asserted above in test_pack_sequences_*)
#   llm_mixture_resample scalar MIN over the per-source threshold rows
#   llm_hybrid_rrf       RRF fusion over the two top-100 ranked lists
#   rel_funnel_conversion final 1-row funnel summary aggregate
#   rel_spend_deciles    inherent global ranking, but over the
#                        per-customer AGGREGATE (docstring names the
#                        range-partitioned topk composition as the
#                        giant-dimension escape hatch)
_GLOBAL_WINDOW_OK = {
    # vocab-growth's cumulative fold runs over n_buckets (~corpus/50)
    # pre-aggregated rows, never tokens
    "llm_vocab_growth",
    "llm_pack_sequences",
    "llm_mixture_resample",
    "rel_spend_deciles",
    # r7: mixture-plan's share denominator — a whole-frame window over
    # per-SOURCE aggregate rows (bounded by source count, never corpus)
    "llm_mixture_plan",
    # r15: DSIR's corpus totals — a whole-frame sum over the per-bucket
    # LM counts, <= n_buckets (4096) rows by construction; replaced a
    # crossJoin-with-scalar-aggregate that re-derived the entire
    # explode+hash gram pipeline a second time
    "llm_dsir_select",
    # (rel_funnel_conversion and llm_hybrid_rrf dropped in r7: the
    # doctor now walks each Window's actual input spine, and neither
    # has a data-sized global window — funnel's windows partition by
    # user_id, and rrf's one global row_number sits over a bounded
    # TakeOrderedAndProject; the old plan-wide string match had
    # conflated their scalar-aggregate SinglePartition exchanges.)
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_doctor_sweep_no_errors_no_unjustified_warns(name, spark):
    """plans/doctor.diagnose() as a fleet gate (VERDICT r5 item 4): every
    registered query must produce ZERO error-severity findings, and any
    warn must come from an explicitly justified allowlist — so a refactor
    that introduces a cartesian product, a row-at-a-time Python UDF, an
    unbounded global window, or an unpushed selective filter fails CI
    with the doctor's own diagnosis as the message."""
    from stream4flow_spark.plans.doctor import diagnose

    findings = diagnose(REGISTRY[name].fn(spark, SF_DIR))
    errors = [f for f in findings if f.severity == "error"]
    assert not errors, f"{name}: {[f'{f.rule}: {f.detail}' for f in errors]}"
    for f in findings:
        if f.severity != "warn":
            continue
        if f.rule == "nested-loop-join":
            assert name in _NESTED_LOOP_OK, f"{name}: {f.detail}"
        elif f.rule == "single-partition-exchange":
            assert name in _GLOBAL_WINDOW_OK, f"{name}: {f.detail}"
        else:
            raise AssertionError(f"{name}: unjustified warn {f.rule}: {f.detail}")


def test_rolling_active_broadcasts_days_and_prunes_scan(spark):
    """rel_rolling_active_users' scale claims, plan-enforced: the
    observed-day restriction joins as a BROADCAST (never a shuffle of
    the fanned pairs against a day list), and the events scan reads
    only the two columns the operator touches (ts, user_id)."""
    plan = _plan(spark, "rel_rolling_active_users")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all(ln.count(":") <= 3 for ln in read), read


def test_corpus_diff_shuffles_digests_not_text(spark):
    """llm_corpus_diff's wire claim, plan-enforced: text digests to md5
    BEFORE the full-outer id join, so no Exchange carries the text
    column — the property that makes the diff narrow at 100 TB."""
    plan = _plan(spark, "llm_corpus_diff")
    assert "FullOuter" in plan
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange" in ln and "hashpartitioning" in ln:
            assert "text" not in ln, ln
    # the input section lists each Exchange's output columns: none may
    # include the raw text column (fp_old/fp_new digests only)
    exch_cols = [
        ln for ln in plan.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert exch_cols and all("text" not in ln for ln in exch_cols)


def test_triangle_and_kcore_wire_is_ids_only(spark):
    """The graph queries must never shuffle flow payloads: every
    Exchange in both plans partitions on host-id / count columns only
    (the (id, id[, deg]) wire format the operators document)."""
    for name in ["host_triangles", "host_kcore"]:
        plan = _plan(spark, name)
        for ln in plan.splitlines():
            if "Arguments: hashpartitioning" in ln:
                assert "ipfix_octetDeltaCount" not in ln, (name, ln)
                assert "ipfix_packetDeltaCount" not in ln, (name, ln)


def test_sharded_bloom_probe_streams_corpus_exchange_free(spark):
    """The sharded Bloom probe (bloom_prune(shards>1)) is a broadcast
    hash join on the shard id: the corpus gram stream must reach the
    bitmap test straight off the scan — Scan → Generate(explode) →
    Filter, with ZERO exchanges on the streamed side. An exchange there
    would mean the 100 TB side shuffles BEFORE it is pruned, defeating
    the operator's whole point."""
    df = REGISTRY["llm_decontaminate_bloom_sharded"].fn(spark, SF_DIR)
    root = df._jdf.queryExecution().executedPlan()

    def walk(n):
        yield n
        if n.nodeName() == "AdaptiveSparkPlan":
            yield from walk(n.initialPlan())
            return
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    # the bf_shard-keyed joins are the probe itself (streams the corpus
    # parquet scan) and, inside its build subtree, the all-shards Range
    # join that backfills empty shards — only the former streams a Scan
    probe_joins = [
        (n, [x.nodeName() for x in walk(n.children().apply(0))])
        for n in walk(root)
        if "BroadcastHashJoin" in n.nodeName()
        and "bf_shard" in n.leftKeys().toString()
    ]
    scan_streaming = [s for _, s in probe_joins if any("Scan" in x for x in s)]
    assert scan_streaming, (
        "no bf_shard probe join streams the corpus scan — the sharded "
        f"prune is gone or inverted: {[s for _, s in probe_joins]}"
    )
    for streamed in scan_streaming:
        assert not any("Exchange" in s for s in streamed), (
            f"corpus side shuffles before the Bloom probe: {streamed}"
        )


def test_shuffle_bloom_probe_plans_without_broadcast(spark):
    """The broadcast=False rung (llm_decontaminate_bloom_shuffle) must
    plan the bf_shard probe as a SHUFFLED hash join — the hint has to
    survive into the physical plan so the ≥10¹⁰-key deployment never
    materializes the full bitmap per executor. A BroadcastHashJoin on
    bf_shard here would mean the hint was silently dropped and the
    memory contract (DEPLOY.md sizing table) is void."""
    df = REGISTRY["llm_decontaminate_bloom_shuffle"].fn(spark, SF_DIR)
    root = df._jdf.queryExecution().executedPlan()

    def walk(n):
        yield n
        if n.nodeName() == "AdaptiveSparkPlan":
            yield from walk(n.initialPlan())
            return
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    # two bf_shard joins exist: the PROBE (streams the corpus parquet
    # scan — must be shuffled) and, inside its build subtree, the
    # all-shards Range backfill join (1-row-per-shard, broadcast is
    # correct there). Classify by whether the streamed child holds a
    # file Scan, same discriminator as the sharded-probe test above.
    probe_joins = [
        n for n in walk(root)
        if "Join" in n.nodeName()
        and "bf_shard" in n.leftKeys().toString()
        and any("Scan" in x.nodeName() for x in walk(n.children().apply(0)))
    ]
    assert probe_joins, "no bf_shard join streams the corpus scan"
    for n in probe_joins:
        assert "ShuffledHashJoin" in n.nodeName(), (
            "broadcast=False probe join is not shuffled-hash: "
            f"{n.nodeName()}"
        )


def test_bloom_build_assembles_dense_array_without_map_scan(spark):
    """r13: the bloom bitmap's dense-array assembly must stay the
    array_sort(collect_list) shape — the earlier
    transform(sequence, i -> element_at(map, i)) form is O((m/64)²)
    in ONE task because element_at on a Catalyst map is a linear
    scan (202 s at 1M keys, unrunnable at production sizes). Guard
    the plan, not a timing: no map construction may appear anywhere
    in either builder's optimized plan, and the build must complete
    with correct membership semantics."""
    import pyspark.sql.functions as F

    from stream4flow_spark.operators.bloom import (
        bloom_params,
        bloom_words,
        bloom_words_sharded,
        might_contain,
    )

    keys = spark.range(1000).select(F.concat(F.lit("k"), "id").alias("key"))
    for built in (
        bloom_words(keys, "key", 100_000, 0.01),
        bloom_words_sharded(keys, "key", 100_000, 0.01, shards=4),
    ):
        plan = built._jdf.queryExecution().optimizedPlan().toString()
        assert "map_from_entries" not in plan
        assert "element_at" not in plan

    # membership semantics survive the rewrite: zero false negatives
    m, k = bloom_params(100_000, 0.01)
    bf = bloom_words(keys, "key", 100_000, 0.01)
    probe = keys.crossJoin(F.broadcast(bf).hint("broadcast"))
    hits = probe.filter(might_contain(F.col("key"), m=m, k=k)).count()
    assert hits == 1000


# Flow and dashboard queries that run Spark actions while they are
# built, by design. Every other gate.py / gate_readside.py query builds
# its plan without starting a job.
_BUILD_JOBS_OK = {
    # kcore: an eager localCheckpoint per fixed peel round
    "host_kcore",
    # pagerank: the |V| count, the seed count and a checkpoint per
    # power iteration
    "host_pagerank",
    # triangles: the undirected and oriented edge lists are checkpointed
    "host_triangles",
    # global_order_rank counts each range partition to offset the ranks
    "readside_q9_ordered",
}


def test_flow_and_dashboard_builds_start_no_spark_job(spark):
    """Building a query is a fixed cost of every run. Once each table's
    parquet schema is known (sources/tables.py pins it), a build must
    not start a Spark job: jobs are counted per build under a job group
    of its own."""
    from stream4flow_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, SF_DIR, t)
    sc = spark.sparkContext
    names = [
        n for n, spec in sorted(REGISTRY.items())
        if spec.fn.__module__ in (
            "stream4flow_spark.gate", "stream4flow_spark.gate_readside"
        )
    ]
    assert _BUILD_JOBS_OK <= set(names)
    jobs = {}
    try:
        for name in names:
            group = f"build-{name}"
            sc.setJobGroup(group, "query build")
            REGISTRY[name].fn(spark, SF_DIR)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {n: c for n, c in jobs.items() if c and n not in _BUILD_JOBS_OK} == {}
    # an allowed query that stops needing an action leaves the list
    assert {n for n in _BUILD_JOBS_OK if not jobs[n]} == set()
