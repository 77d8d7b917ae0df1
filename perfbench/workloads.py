"""The benchmark's workloads.

Both are closed loops with one client: the next op starts only after
the previous one has completed. A workload drives the program's public
entry points over the seeded inputs of ``gen`` and records spans around
its calls into each layer; the spans cost nothing unless the tracer is
enabled.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import gen

#: the flow-app and dashboard (read-side) queries of ``flow_dash``
FLOW_DASH_QUERIES = (
    "protocols_statistics",
    "dns_statistics",
    "ssh_auth_simple",
    "ports_scan",
    "readside_q2_histogram_terms_sum",
    "readside_q3_global_sums",
    "readside_q7_latest_per_group",
)
EVENT_ROWS = 100_000
#: the first pass compiles every query's plan; the next two still run
#: 10-25% slower while the JIT catches up. A window that holds such a
#: pass reads higher the fewer passes fit, so a slow host reads slower
#: still
FLOW_WARM_PASSES = 3

DOCS_PER_FILE = 100
#: the screen compacts once an index sub-dir holds this many batch dirs:
#: at 3 every batch after the warm-up compacts, so a pass is one batch
AUTO_COMPACT_DIRS = 3
#: two batches leave two batch dirs, as a compaction does (the compacted
#: dir and the newest), so every pass is AUTO_COMPACT_DIRS - 2 batches
WARM_BATCHES = 2


@dataclass
class Op:
    key: object  # query name or batch id
    wall: float
    error: str | None = None


def _op_error() -> str:
    """Record an op's failure on stderr and return its one-line form."""
    traceback.print_exc(file=sys.stderr)
    return repr(sys.exc_info()[1])


class FlowDash:
    """Flow-app and dashboard queries over 100k seeded events. A pass
    runs every query once through the noop sink."""

    name = "flow_dash"
    #: the same pass positions in every run, on any host, and enough
    #: of them that each position's median outlasts a burst of host load
    min_passes = 4

    def __init__(self, work: Path, seed: int, seconds: float, tracer):
        self.sf_dir = str(work / "in")
        self.events = gen.write_events(work / "in", seed, EVENT_ROWS)
        self.tracer = tracer
        self.fns: dict = {}

    def load(self) -> None:
        from stream4flow_spark.registry import queries

        every = queries()
        self.fns = {n: every[n] for n in FLOW_DASH_QUERIES}

    def warm_inputs(self, spark) -> None:
        from stream4flow_spark.sources.tables import load_table

        load_table(spark, self.sf_dir, "events").count()

    def start(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        for _ in range(FLOW_WARM_PASSES):
            self.run_pass()

    def run_pass(self) -> tuple[list[Op], bool]:
        ops = []
        with self.tracer.span("pass"):
            for name, fn in self.fns.items():
                t0 = time.perf_counter()
                err = None
                with self.tracer.span("op", key=name):
                    try:
                        with self.tracer.span("build"):
                            df = fn(self.spark, self.sf_dir)
                        with self.tracer.span("sink"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception:
                        err = _op_error()
                    finally:
                        self._release_cache()
                ops.append(Op(name, time.perf_counter() - t0, err))
        return ops, True

    def _release_cache(self) -> None:
        # a query's persisted frames must not help or burden the next
        # one; localCheckpoint blocks are RDD-level, so clearCache
        # alone misses them
        self.spark.catalog.clearCache()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)

    def stop(self) -> None:
        pass

    def verify(self) -> dict:
        """query -> matches its registry DuckDB oracle on the same
        generated events, under the repository's oracle comparison."""
        import duckdb
        from oracle_utils import assert_matches_oracle

        from stream4flow_spark.registry import oracle_sql

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{self.events}')"
            )
            ok = {}
            for name, fn in self.fns.items():
                try:
                    assert_matches_oracle(fn(self.spark, self.sf_dir), con, oracles[name])
                    ok[name] = True
                except AssertionError as e:
                    print(f"{name}: {e}", file=sys.stderr)
                    ok[name] = False
            return ok
        finally:
            con.close()

    def progress(self) -> list[dict]:
        return []

    def layer_counts(self) -> dict:
        return {}


class ArrivalScreen:
    """A backlog of document files drained through
    ``NeardupIndexState.apply_batch`` by ``foreachBatch`` with
    ``maxFilesPerTrigger=1`` and auto-compaction on. The client moves
    the next backlog file into the source directory once the previous
    micro-batch has committed; an op is one file, from landing to
    commit. A pass is one compaction cycle: batches up to and including
    the next one that compacts."""

    name = "arrival_screen"
    #: one sample of a batch spread 0.24 over ten runs, the median of two 0.09
    min_passes = 2

    def __init__(self, work: Path, seed: int, seconds: float, tracer):
        # generous: a later, faster screen must not run out of backlog
        n_files = WARM_BATCHES + 3 * int(2 * seconds + 1)
        self.backlog = gen.write_backlog(work / "staging", seed, n_files, DOCS_PER_FILE)
        self.source = work / "source"
        self.source.mkdir()
        self.state_dir = work / "state"
        self.checkpoint = work / "checkpoint"
        self.tracer = tracer
        self.landed = 0
        self.last_batch = -1
        self.compacted = False
        self.query = None
        self.alerts = 0

    def load(self) -> None:
        pass

    def warm_inputs(self, spark) -> None:
        last = self.backlog.files[-1]
        if self.landed == len(self.backlog.files):
            last = self.source / last.name
        spark.read.parquet(str(last)).count()

    def start(self, spark) -> None:
        from stream4flow_spark.streaming.llmingest import NeardupIndexState

        self.spark = spark
        self.state = NeardupIndexState(
            spark, str(self.state_dir), auto_compact_dirs=AUTO_COMPACT_DIRS
        )
        compact = self.state.maybe_compact

        def traced_compact():
            with self.tracer.span("compact") as sp:
                out = compact()
                if sp is not None:
                    sp.attrs["compacted"] = out is not None
            self.compacted = out is not None
            return out

        self.state.maybe_compact = traced_compact
        self.query = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.source))
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", str(self.checkpoint))
            .start()
        )

    def _apply(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("apply", batch=batch_id):
            self.state.apply_batch(batch_df, batch_id)
        self.last_batch = batch_id

    def _op(self) -> Op:
        k = self.landed
        src = self.backlog.files[k]
        t0 = time.perf_counter()
        err = None
        self.compacted = False
        with self.tracer.span("op", key=k):
            try:
                os.replace(src, self.source / src.name)
                self.landed += 1
                # each batch takes exactly one file, so batch k is file k;
                # processAllAvailable can return on an empty trigger that
                # listed the directory just before the file landed
                while self.last_batch < k:
                    self.query.processAllAvailable()
            except Exception:
                err = _op_error()
        return Op(k, time.perf_counter() - t0, err)

    def warm_up(self) -> None:
        for _ in range(WARM_BATCHES):
            self._op()

    def run_pass(self) -> tuple[list[Op], bool]:
        ops = []
        with self.tracer.span("pass"):
            while self.landed < len(self.backlog.files):
                ops.append(self._op())
                if ops[-1].error or self.compacted:
                    break
        return ops, bool(ops) and self.compacted and not ops[-1].error

    def progress(self) -> list[dict]:
        return [
            {"batch": p.batchId, "durationMs": dict(p.durationMs)}
            for p in self.query.recentProgress
            if p.numInputRows
        ]

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def verify(self) -> dict:
        """batch -> its alerts are exactly the planted copies it holds,
        each flagged against its origin."""
        df = self.state.alerts_df()
        rows = [] if df is None else df.select("batch", "id", "best_match_id").collect()
        got: dict[int, dict] = defaultdict(dict)
        for r in rows:
            got[int(r["batch"])][r["id"]] = r["best_match_id"]
        self.alerts = len(rows)
        copies = self.backlog.copies
        ok = {}
        for k in range(self.landed):
            want = {i: copies[i] for i in self.backlog.file_ids[k] if i in copies}
            ok[k] = got.get(k, {}) == want
            if not ok[k]:
                print(f"batch {k}: alerts {got.get(k)} != planted {want}", file=sys.stderr)
        return ok

    def layer_counts(self) -> dict:
        files = [p for p in self.state_dir.rglob("*") if p.is_file()]
        return {
            "streaming.state_bytes": sum(p.stat().st_size for p in files),
            "streaming.state_files": len(files),
            "streaming.alerts": self.alerts,
        }


WORKLOADS = {w.name: w for w in (FlowDash, ArrivalScreen)}
