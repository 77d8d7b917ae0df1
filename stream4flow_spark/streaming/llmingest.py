"""Streaming ingest for the training-data tier: dedup-on-arrival.

A corpus build ingests documents continuously; exact dedup belongs AT THE
EDGE, before anything expensive (tokenization, embedding, near-dup) runs.
This is the streaming twin of ``llmdata.dedup.exact_dedup``:

- content fingerprint (md5) computed scan-side, exactly like the batch op;
- ``dropDuplicatesWithinWatermark([fp])`` keeps the FIRST arrival per
  fingerprint and — the part that matters at scale — lets Spark EVICT a
  fingerprint from state once it falls behind the watermark. Unbounded
  ``dropDuplicates`` state on an infinite corpus stream is the classic
  leak; the watermark bound makes state O(docs within the dedup horizon),
  with the documented trade that a duplicate arriving later than the
  horizon is re-emitted (a downstream batch ``exact_dedup`` pass catches
  those — the standard lambda-style backstop).

The document tables carry no event-time column, so ``ingest_ts`` is an
explicit parameter: production wires the source's arrival time (Kafka
record timestamp, file mtime); tests derive a deterministic one.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fingerprinted(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the ``fp`` content hash (same digest as the batch exact_dedup)."""
    return docs.withColumn("fp", F.md5(F.col(text_col)))


def dedup_documents_stream(
    stream_docs: DataFrame,
    ingest_ts: Column,
    horizon: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Keep the first-arriving document per content hash, state bounded by
    ``horizon``. Output = input columns + fp + ingest_ts."""
    return (
        fingerprinted(stream_docs, text_col)
        .withColumn("ingest_ts", ingest_ts)
        .withWatermark("ingest_ts", horizon)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def _list_fs(spark, pattern: str) -> list[str]:
    """List paths matching a glob via the Hadoop FS API — works on any
    scheme the cluster mounts (local, HDFS, S3A), unlike ``glob.glob``
    which silently finds nothing on non-local paths (the index would be
    treated as empty every batch, with no error). Same API family as
    ``llmdata.export._write_side_file``; local-glob fallback ONLY when
    the JVM gateway itself is absent (a mocked/driverless session) —
    real FS errors must PROPAGATE and fail the batch, because a
    swallowed transient error here would read as "index empty" and
    silently admit + double-index duplicates, the exact failure this
    function exists to prevent."""
    try:
        jvm = spark._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
    except AttributeError:  # pragma: no cover - gateway-less session
        import glob

        return glob.glob(pattern)
    p = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = p.getFileSystem(conf)
    statuses = fs.globStatus(p)
    if statuses is None:
        return []
    return [str(s.getPath()) for s in statuses]


def _driver_side_listing(spark):
    """Context manager raising ``parallelPartitionDiscovery.threshold``
    for the duration of an index-store read. The stores are partitioned
    ``batch=*/id_bucket=*`` — hundreds of tiny leaf dirs — and Spark's
    default threshold (32 paths) lists any directory with more children
    than that (a bucketed batch dir holding 33+ ``id_bucket`` dirs)
    through a distributed listing JOB whose task scheduling dwarfs the
    listing itself (measured 1.14 s/read → 0.075 s at 8 batches × 64
    buckets on local FS). The screens' per-batch ``_read_prior``, the
    fold's read and ``State.compact``'s closing count go through it
    (the auto-compaction path skips the count). Left distributed, each
    compactor read starts a 45- to 64-task listing job; on a
    compacting 100-doc near-dup batch (4 cores) listing the fold and
    the count on the driver took the compactor from 5.0 to 3.5 s.
    Driver-side listing is right for the auto-compacted store shapes; a
    store that somehow exceeds the raised threshold (tens of thousands
    of dirs on an object store) still falls back to the distributed
    job."""
    import contextlib

    @contextlib.contextmanager
    def scope():
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        try:
            old = spark.conf.get(key)
        except Exception:  # pragma: no cover - gateway-less session
            yield
            return
        if old is not None and int(old) >= 4096:
            yield
            return
        spark.conf.set(key, "4096")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return scope()


def _bucket_tasks(spark, n_buckets: int | None) -> int:
    """Partition count for a split ``partitionBy("id_bucket")`` store
    write (one file per bucket; ``_bucket_rows``), shared by
    ``_write_store`` and the fold so the two cannot drift apart.
    Hash-partitioning on ``id_bucket`` puts each bucket in
    exactly one task, so the write still commits one file per
    non-empty bucket; a task may hold several buckets. One partition
    per bucket paid a task per bucket instead: at 4 cores the 64-task
    signature write of a 100-doc batch took a 1.05 s span and 4.25 s
    of task time. A bare ``repartition(col)`` is no better, because
    AQE coalesces it to ONE task that writes every bucket file in
    turn (1.07 s in the fold). So: at most one task per core, and
    never more tasks than buckets; ``n_buckets`` None (a bucketed
    store without a ``_layout`` marker) takes the core count."""
    cores = spark.sparkContext.defaultParallelism
    return min(n_buckets or cores, cores)


#: Bytes below which a bucketed verify-store write or fold puts all its
#: rows into ONE whole-store file (``_bucket_rows``) rather than one
#: file per ``id_bucket``. It is Spark's price for opening one file,
#: counted in bytes of scan (the ``spark.sql.files.openCostInBytes``
#: default, not read from that conf: a read-planning setting must not
#: change the on-disk layout). A pruned fetch reads a whole dir in full
#: but opens at least one file of a split dir, so below this size the
#: whole dir costs a fetch no more than the split one, and its write
#: skips the per-file cost. Measured (4 cores, 65-long signature rows,
#: one batch dir, median of 9; split → whole): at 0.5 MB the write
#: takes 0.80 → 0.17 s and a 5-candidate fetch 0.97 → 0.84 s; at 4 MB
#: 0.66 → 0.32 s and 0.80 → 0.85 s; at 16 MB 0.68 → 0.69 s and
#: 0.75 → 0.77 s; at 66 MB 1.49 → 1.36 s and 0.79 → 1.09 s. The write's
#: saving is gone by 16 MB and the read's loss shows past it.
_WHOLE_STORE_BYTES = 4 << 20


def _below_whole_store(df: DataFrame) -> bool:
    """``df``'s size estimate (no job; see ``_bucket_rows``) is below
    ``_WHOLE_STORE_BYTES``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return int(plan.stats().sizeInBytes()) < _WHOLE_STORE_BYTES


def _layout_marker(n_buckets: int | None) -> str:
    """``<sub>._layout`` text for a store layout. A bucketed store
    reads ``<n>+whole``: ``n`` buckets plus the whole-store dir
    ``id_bucket=<n>``. Code that predates whole-store dirs parses a
    marker with ``int()``, which would accept a bare ``"<n>"`` and
    prune that dir away; it raises on this form instead."""
    return "flat" if n_buckets is None else f"{n_buckets}+whole"


def _parse_layout(text: str) -> tuple[int | None, bool]:
    """``(n_buckets, legacy)`` from a ``<sub>._layout`` marker;
    ``n_buckets`` None is flat, ``legacy`` marks a bare ``"<n>"`` from
    before whole-store dirs, to be re-stamped before one is written."""
    t = text.strip()
    if t == "flat":
        return None, False
    if t.isdigit():
        return int(t), True
    n, sep, tag = t.partition("+")
    if not (sep and tag == "whole" and n.isdigit()):
        raise StoreLayoutError(f"unreadable store layout marker {t!r}")
    return int(n), False


def _read_side_file(spark, path: str) -> str | None:
    """Read a small text side-file via Hadoop FS (HDFS/S3-capable);
    None when absent — the reader twin of ``export._write_side_file``."""
    try:
        jvm = spark._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            # one call (commons-io ships with Spark; it also runs on
            # Java 8, which InputStream.readAllBytes does not)
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            ).decode("utf-8")
        finally:
            stream.close()
    except AttributeError:  # pragma: no cover - gateway-less session
        import os

        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()


def _raise_unless_empty_store(e: AnalysisException) -> None:
    """Gate for the ONE AnalysisException the index readers may swallow:
    ``UNABLE_TO_INFER_SCHEMA``, raised when every batch dir holds only
    ``_SUCCESS`` markers (a bucketed write of an empty micro-batch emits
    no schema-bearing part file) — semantically the store IS empty.
    Every OTHER analysis failure (corrupt layout, conflicting partition
    structures, future reader/option errors) must PROPAGATE: treating it
    as "store absent" silently disables screening for the batch — the
    exact silent-recall-loss class ``StoreLayoutError`` /
    ``PreTtlIndexError`` exist to make loud (r12 advice, medium)."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        getter = getattr(e, attr, None)
        if getter is not None:
            try:
                cond = getter()
            except Exception:  # pragma: no cover - jvm-side surprise
                cond = None
            if cond:
                break
    if cond is not None:
        if cond != "UNABLE_TO_INFER_SCHEMA":
            raise e
    elif "UNABLE_TO_INFER_SCHEMA" not in str(e):  # pragma: no cover
        raise e


class StoreLayoutError(RuntimeError):
    """The configured ``*_buckets`` disagrees with the id_bucket layout
    the store was actually written with. The bucket function is baked
    into the directory layout at write time, so a mismatched fetch
    filter would select the WRONG partitions and silently drop stored
    rows from the verify — duplicates would pass unflagged with no
    error (the same silent-recall-loss class ``PreTtlIndexError``
    exists to prevent). The layout is a property of the STORE, not the
    session: each bucketed store records it in a ``<sub>._layout``
    side-file at first write and every later session must match it."""


class ScreenParamsError(RuntimeError):
    """The session's index-DEFINING parameters disagree with the ones
    the store was built with. Parameters like the MinHash permutation
    count, the winnowing k/window, the CDC divisor, or the ExactSubstr
    gram length are baked into every stored row — fingerprints computed
    under different parameters simply never collide with the old ones,
    so a 'tuned' restart would keep running and silently stop matching
    everything indexed so far (or, for vector LSH, bucket new arrivals
    into a disjoint keyspace). Read-time knobs (thresholds, min_shared,
    bucket caps) are deliberately NOT pinned — changing those is safe.
    Remediation: restore the recorded parameters, or rebuild the store
    under the new ones."""


class PreTtlIndexError(RuntimeError):
    """``ttl_batches`` was enabled over an index store written WITHOUT
    ``indexed_at`` stamps (TTL flipped on mid-life). The old behavior —
    silently treating the whole index as expired — was conservative for
    the STATE-BOUND contract but catastrophic for dedup itself: one
    batch after an accidental flag flip, every prior document stops
    screening new arrivals, with no error (r11 verdict item 6). Raising
    makes the misconfiguration loud; the exception message carries the
    remediation."""


def _require_ttl_stamps(sub: str, df: DataFrame, state_dir: str) -> DataFrame:
    """Fail loud when a TTL'd read finds no ``indexed_at`` column at all
    (a pure pre-TTL store). Mixed stores — some stamped files, e.g.
    after a backfill compaction — pass through: their unstamped rows
    read NULL under mergeSchema and stay conservatively expired."""
    if "indexed_at" not in df.columns:
        raise PreTtlIndexError(
            f"ttl_batches is enabled but the '{sub}' index at "
            f"{state_dir} carries no indexed_at stamps — it was written "
            "before TTL was turned on, so every stored row would "
            "silently stop screening new arrivals. Either disable "
            "ttl_batches for this store, or backfill stamps once via "
            "its compactor's backfill_indexed_at argument (e.g. "
            "<State>.compact(spark, state_dir, "
            "backfill_indexed_at=<current batch id>)) and re-enable."
        )
    return df


class _ArrivalIndexState:
    """Shared mechanics of the on-arrival screening states — the one
    harness every screen runs through: ``drain`` (the availableNow
    entry point), ``compact`` (the index fold over ``_COMPACT``),
    ``_read_index`` (prior rows, half-written = absent, TTL horizon),
    per-batch alert snapshots keyed by batch_id (a foreachBatch
    redelivery REPLACES, never double-counts), Hadoop-FS index
    listing, and optional AUTO-compaction (``auto_compact_dirs``: once
    any index sub-dir accumulates that many ``batch=*`` dirs, the state
    runs ``compact`` at the end of ``apply_batch`` — i.e. BEFORE the
    streaming checkpoint commits the batch, which is safe because
    compaction preserves the newest batch dir for redelivery).
    Long-lived continuous-trigger deployments should set it (DEPLOY.md
    sizes the file-listing degradation); tests and short drains leave
    it off.

    ``auto_prune_alerts`` is the symmetric retention knob for the
    durable alert stream: after each batch's alert write, dirs older
    than the newest N are deleted (``prune_alerts`` — the newest always
    survives, so redelivery stays idempotent). Leave it off when a
    downstream job ships alerts to the result store and prunes
    manually."""

    #: the state's index sub-dirs, in ``_read_index`` order — the one
    #: place each screen lists them (read, compact, auto-compact count)
    _COMPACT: tuple[str, ...] = ()

    #: in-memory alert batches kept per state object (the durable
    #: record is the alerts/ dir; the tail only serves cheap access to
    #: the most recent batches without a read job)
    ALERTS_TAIL_BATCHES = 16

    #: `alerts` (the COLLECTING property) warns past this many durable
    #: batch dirs — the read itself is fine as a DataFrame, it's the
    #: driver-side collect that grows with query lifetime
    ALERTS_COLLECT_WARN_DIRS = 256

    def __init__(
        self,
        spark,
        state_dir: str,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.auto_compact_dirs = auto_compact_dirs
        self.auto_prune_alerts = auto_prune_alerts
        self.ttl_batches = ttl_batches
        self._last_batch: int | None = None
        self._alerts_by_batch: dict[int, list] = {}
        self._compact_dir_count: int | None = None
        self._index_seen: set[str] = set()
        self._store_buckets: dict[str, int | None] = {}
        self._store_schemas: dict[str, object] = {}

    def drain(self, stream_df: DataFrame, checkpoint_dir: str):
        """Drain ``stream_df`` (availableNow) through ``apply_batch``:
        foreachBatch, block until the source is exhausted, and return
        this state (alerts + on-disk index + the screen's outputs)."""
        (
            stream_df.writeStream.foreachBatch(self.apply_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return self

    def maybe_compact(self) -> dict | None:
        """Fold the index (``_fold``) if any sub-dir's batch count has
        reached ``auto_compact_dirs``; returns ``{sub: consolidated
        dir}`` (None for a sub with nothing to fold), or None if below
        threshold/disabled. Unlike ``compact`` it does not read the
        store back to count it. TTL'd states also drop expired rows
        from the fold (``_ttl_floor``), so auto-compaction doubles as
        disk reclamation of the dead horizon."""
        subs = self._COMPACT
        if self.auto_compact_dirs is None or not subs:
            return None
        # ONE listing to seed, then an in-memory increment per batch:
        # the guard must not itself pay the O(dirs) listing it exists
        # to bound — on an object store with thousands of batch dirs,
        # a per-batch list IS the degradation. Each apply_batch adds
        # exactly one dir per sub; a redelivered batch overwrites its
        # dir but still increments, which only compacts one batch
        # early (harmless). A restart re-seeds from a fresh listing.
        if self._compact_dir_count is None:
            self._compact_dir_count = max(
                len(_list_fs(self.spark, f"{self.state_dir}/{s}/batch=*"))
                for s in subs
            )
        else:
            self._compact_dir_count += 1
        if self._compact_dir_count < self.auto_compact_dirs:
            return None
        floor = self._ttl_floor()
        out = self._fold(
            self.spark, self.state_dir,
            min_indexed_at=floor,
            # NULL stamps can only exist mid-migration (the dir a
            # backfill compaction preserved as-newest); stamping them
            # as-if-indexed-now instead of dropping them is what makes
            # the PreTtlIndexError remediation actually complete — the
            # r12 review caught that the min_indexed_at filter alone
            # silently DELETED those rows at the next fold, turning the
            # documented one-fold recall gap into a permanent one
            backfill_indexed_at=(
                self._last_batch if floor is not None else None
            ),
            schemas=self._store_schemas,
        )
        # compaction rewrote the layout (one compacted dir + the
        # preserved newest) — re-seed from a listing on the next batch.
        # The cached store schemas stay valid: their ``batch`` column
        # is pinned to STRING (``_read_prior``), so the consolidated
        # ``batch=compacted-<gen>`` dir reads through them, and the
        # fold wrote no column they lack (the backfill stamp adds
        # ``indexed_at`` only on a TTL'd state, whose merged cache
        # already carries it). A TTL-off state whose cache lacks
        # ``indexed_at`` folds old stamps away; should TTL come back
        # on, those rows read NULL like every row indexed while it was
        # off, until the next TTL'd fold backfills them
        self._compact_dir_count = None
        return out

    @classmethod
    def compact(
        cls,
        spark,
        state_dir: str,
        min_indexed_at: int | None = None,
        backfill_indexed_at: int | None = None,
    ) -> dict:
        """Rewrite each ``_COMPACT`` sub-dir's accumulated per-batch
        dirs into one consolidated dir; returns ``{sub: n_rows}`` (an
        empty dict for a state without an index). DEPLOY.md: run once
        batch-dir counts reach thousands — file-listing cost, not data
        size, is what degrades. Safe between runs (the index is only
        read at batch boundaries). Listing and the delete/rename swap
        go through the Hadoop FS API, so the index can live on any
        mounted scheme (local, HDFS, S3A) — the same stores DEPLOY.md
        sizes it for; ``glob``/``shutil`` would silently see an empty
        index there. ``maybe_compact`` runs the same fold (``_fold``)
        without the closing count.

        Crash-safe on two axes:

        - **Redelivery**: the NEWEST numeric batch dir is preserved AS
          ITSELF, never folded. If the previous run crashed after that
          batch's index write but before its checkpoint commit, the
          restart REDELIVERS the batch, and ``_read_prior``'s
          own-batch-id exclusion only works while the failed attempt's
          rows still live under their own ``batch=<id>`` partition.
        - **Compaction crash**: the consolidated rows are renamed INTO
          the ``batch=*`` namespace as a fresh ``batch=compacted-<gen>``
          dir FIRST; the superseded source dirs are deleted AFTER (the
          sketch-table ordering, streaming/sketches.py). A crash at any
          point leaves a complete index — between rename and the
          deletes, readers see folded rows TWICE, which every consumer
          here tolerates: index rows are unique by construction
          (distinct gram hashes / one bucket per band per id /
          sorted-distinct winnow sketches / one signature row per id),
          candidate pairs dedup before use, and the winnow count path
          additionally dedups its index read. The old
          delete-src-then-rename order had a window where the WHOLE
          index vanished — a reader then treats it as empty and
          silently re-admits duplicates.

        Rows fold DISTINCT across batch dirs: semantically free given
        the uniqueness invariants above, and it makes a crash-window's
        doubled rows self-heal on the next compaction instead of
        accumulating (the ExactSubstr and CDC folds thereby drop
        cross-batch duplicate grams / fingerprints).

        ``min_indexed_at``: for TTL'd stores — rows whose ``indexed_at``
        stamp is below it (or NULL) are dropped from the fold, so disk
        reclamation of expired entries happens here (the read-side TTL
        filter only bounds what SCREENS; without this, dead rows would
        be copied forward by every compaction forever). Pass the live
        horizon (``last_batch - ttl_batches``), as ``maybe_compact``
        does. Ignored when the store carries no ``indexed_at`` column.

        ``backfill_indexed_at``: the one-time remediation for enabling
        ``ttl_batches`` on a store written before TTL existed (see
        ``PreTtlIndexError``): every folded row missing a stamp (absent
        column or NULL) gets ``indexed_at = backfill_indexed_at`` — pass
        the current batch id so the whole prior corpus enters the
        horizon as if indexed now. Applied BEFORE the ``min_indexed_at``
        filter. Caveat: the newest batch dir is preserved as itself
        (redelivery safety), so ITS rows stay unstamped until the next
        compaction folds them — under TTL they read NULL and sit out the
        screen until then. That next fold CLOSES the gap: TTL'd
        auto-compaction always passes ``backfill_indexed_at=last_batch``,
        so leftover NULL rows are stamped as-if-indexed-now rather than
        silently deleted by the ``min_indexed_at`` filter (without this,
        the migration's "one-fold gap" was permanent — r12 review). The
        stamped rows then age out normally one horizon later.
        """
        out = {}
        for sub, dest in cls._fold(
            spark, state_dir, min_indexed_at, backfill_indexed_at
        ).items():
            if dest is None:
                out[sub] = 0
                continue
            with _driver_side_listing(spark):
                out[sub] = spark.read.parquet(f"{state_dir}/{sub}").count()
        return out

    @classmethod
    def _fold(
        cls,
        spark,
        state_dir: str,
        min_indexed_at: int | None,
        backfill_indexed_at: int | None,
        schemas: dict | None = None,
    ) -> dict:
        """The fold behind ``compact`` and ``maybe_compact`` (see
        ``compact`` for its crash-safety rules); returns ``{sub:
        consolidated dir}``, None for a sub with nothing to fold.
        ``schemas`` is a state's store-schema cache (``_read_prior``):
        a sub found there is read with its cached schema, which skips
        the ``mergeSchema`` footer sweep and its inference job.

        A bucketed store's fold recomputes ``id_bucket`` from ``id``
        (rows read from a whole-store dir carry ``<n_buckets>``) and
        picks its fan-out by the rule ``_write_store`` uses
        (``_bucket_rows``), from its scan's file bytes: below
        ``_WHOLE_STORE_BYTES`` the consolidated dir is one whole-store
        file."""
        out = {}
        path_cls = spark._jvm.org.apache.hadoop.fs.Path
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        for sub in cls._COMPACT:
            src = f"{state_dir}/{sub}"
            fs = path_cls(src).getFileSystem(conf)
            dirs = _list_fs(spark, f"{src}/batch=*")
            if not dirs:
                out[sub] = None
                continue
            ids = [d.rsplit("batch=", 1)[1] for d in dirs]
            numeric = [int(i) for i in ids if i.lstrip("-").isdigit()]
            latest = max(numeric) if numeric else None
            gen = max(
                (int(i.rsplit("-", 1)[1]) for i in ids
                 if i.startswith("compacted-")),
                default=0,
            )
            cached = (schemas or {}).get(sub)
            reader = (
                spark.read.schema(cached) if cached is not None
                else spark.read.option("mergeSchema", "true")
            )
            try:
                with _driver_side_listing(spark):
                    fold = reader.parquet(src)
            except AnalysisException as e:
                # all batch dirs empty (bucketed empty writes leave no
                # schema-bearing files): nothing to fold, but DO reclaim
                # the accumulated empty dirs — leaving them would re-seed
                # the auto_compact_dirs counter high every micro-batch and
                # the compactor would re-attempt (and re-fail to shrink)
                # forever on an all-empty store (r12 advice). The newest
                # batch dir is preserved, same redelivery rule as the
                # normal fold. Any error other than the empty-store
                # schema-inference one re-raises.
                _raise_unless_empty_store(e)
                for d in dirs:
                    if latest is None or not d.endswith(f"batch={latest}"):
                        fs.delete(path_cls(d), True)
                out[sub] = None
                continue
            if latest is not None:
                fold = fold.filter(
                    F.col("batch").cast("string") != str(latest)
                )
            fold = fold.drop("batch")
            if backfill_indexed_at is not None:
                stamp = F.lit(backfill_indexed_at).cast("long")
                if "indexed_at" in fold.columns:
                    fold = fold.withColumn(
                        "indexed_at", F.coalesce(F.col("indexed_at"), stamp)
                    )
                else:
                    fold = fold.withColumn("indexed_at", stamp)
            if min_indexed_at is not None and "indexed_at" in fold.columns:
                fold = fold.filter(
                    F.col("indexed_at") >= F.lit(min_indexed_at)
                )
            tmp = f"{state_dir}/__compact_{sub}"
            bucketed = "id_bucket" in fold.columns
            if bucketed:
                # a bucketed verify store must stay bucketed through
                # compaction, or the consolidated dir's flat layout would
                # (a) break partition discovery against the remaining
                # bucketed batch dirs and (b) lose the verify fetch's
                # scan pruning for the whole folded history. The
                # distinct below keeps the partitioning _bucket_rows
                # gives (one partition, or hashed on id_bucket, one of
                # its keys), so the rows are shuffled at most once.
                layout = _read_side_file(spark, f"{src}._layout")
                n_buckets, legacy = (
                    (None, False) if layout is None else _parse_layout(layout)
                )
                if n_buckets is None:
                    # no marker (a pre-marker store): keep each row's
                    # stored bucket, one file per bucket
                    fold = fold.repartition(
                        _bucket_tasks(spark, None), F.col("id_bucket")
                    )
                else:
                    if legacy:
                        # before the first whole-store dir lands, so
                        # older code refuses the store
                        from stream4flow_spark.llmdata.export import (
                            _write_side_file,
                        )

                        _write_side_file(
                            spark, f"{src}._layout", _layout_marker(n_buckets)
                        )
                    fold = cls._bucket_rows(spark, fold, n_buckets)
            writer = fold.distinct().write.mode("overwrite")
            if bucketed:
                writer = writer.partitionBy("id_bucket")
            writer.parquet(tmp)
            dest = f"{src}/batch=compacted-{gen + 1}"
            if not fs.rename(path_cls(tmp), path_cls(dest)):
                # Hadoop rename reports failure as FALSE, not an exception
                # (e.g. the destination was created by a concurrent
                # compaction). Deleting the source dirs anyway would
                # truncate the index to the newest batch — fail loudly and
                # delete NOTHING instead (r10 review).
                raise RuntimeError(
                    f"index compaction rename failed: {tmp} -> {dest}; "
                    "source batch dirs left untouched (possible concurrent "
                    "compaction of the same store)"
                )
            for d in dirs:
                if latest is None or not d.endswith(f"batch={latest}"):
                    fs.delete(path_cls(d), True)
            out[sub] = dest
        return out

    def _ttl_floor(self) -> int | None:
        """Oldest still-live ``indexed_at`` stamp, or None when the
        state has no TTL (or nothing drained yet) — ONE implementation
        for all five TTL-capable states (r12 review: the identical
        override had been copy-pasted five times)."""
        if self.ttl_batches is None or self._last_batch is None:
            return None
        return self._last_batch - self.ttl_batches

    def _record_alerts(self, batch_id: int, flagged: DataFrame) -> list:
        """Durable per-batch alert sink (r10 verdict item 3): alerts
        write to ``alerts/batch=<batch_id>`` — keyed by batch_id like
        every index dir, so a foreachBatch redelivery OVERWRITES the
        failed attempt instead of double-counting — and only a bounded
        tail (``ALERTS_TAIL_BATCHES``) stays in driver memory. The old
        shape accumulated every batch's flagged rows in the driver for
        the life of the query: bounded per batch, unbounded across a
        continuous deployment — a slow driver leak (DEPLOY.md).

        Returns the collected rows so callers can skip work keyed on
        them (the index anti-joins). Fixed-cost shape (r12 verdict
        item 4): the COLLECT runs first and is the only job over the
        alert pipeline — it executes the screen's whole candidate and
        verify plan; the durable write
        then re-ships the collected rows from the driver as ONE file
        (alerts were already driver-bounded via this collect, and a
        32-task cache dump paid 32 commit round-trips for a handful of
        rows), and is SKIPPED entirely on the common clean batch —
        no flags and no prior attempt's dir to overwrite costs one FS
        probe instead of a write job. A redelivery whose earlier
        attempt DID write stays correct: the dir exists, so the empty
        result overwrites it.

        The re-ship goes rows → pandas → Arrow createDataFrame: an
        Arrow LocalRelation stays JVM-side, so the 1-task coalesced
        write never opens a Python worker (measured 0.24 s; feeding
        the same rows as a pickled list costs ~5 s — coalesce(1) over
        a 32-slice parallelized list drains 32 Python worker streams
        SEQUENTIALLY in the single task)."""
        import pandas as _pd

        rows = flagged.collect()
        alert_dir = f"{self.state_dir}/alerts/batch={batch_id}"
        if rows or _list_fs(self.spark, alert_dir):
            local = _pd.DataFrame(
                rows, columns=[f.name for f in flagged.schema.fields]
            )
            (
                self.spark.createDataFrame(local, schema=flagged.schema)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(alert_dir)
            )
        self._alerts_by_batch[batch_id] = rows
        while len(self._alerts_by_batch) > self.ALERTS_TAIL_BATCHES:
            self._alerts_by_batch.pop(min(self._alerts_by_batch))
        if self.auto_prune_alerts is not None:
            # symmetric with auto_compact_dirs (r11 verdict item 7):
            # retention runs inside the batch, BEFORE the checkpoint
            # commits — safe because prune_alerts always retains the
            # newest dir, so a redelivery still overwrites its own
            # attempt. Ship older alerts to the result store first if
            # dashboards need history past the retained tail.
            prune_alerts(self.spark, self.state_dir, self.auto_prune_alerts)
        return rows

    def alerts_df(self) -> DataFrame | None:
        """The durable alert history as a DataFrame (one ``batch``
        column + the screen's alert columns), or None when no batch has
        drained yet. THIS is the deployment-scale accessor: it plans a
        distributed read over ``alerts/batch=*`` and never collects —
        join it, aggregate it, or ship it to the result store without
        the driver ever holding the history (r11 verdict item 5: the
        ``alerts`` property collects everything, which after a year of
        batches is a driver OOM)."""
        if not _list_fs(self.spark, f"{self.state_dir}/alerts/batch=*"):
            return None
        return self.spark.read.parquet(f"{self.state_dir}/alerts")

    @property
    def alerts(self) -> list:
        """Flagged rows across ALL drained batches, read back from the
        durable ``alerts/`` dir — so the history survives a driver
        restart (a fresh state object over the same ``state_dir`` sees
        every prior batch's alerts) and each batch counts once even
        after a foreachBatch redelivery (its dir was overwritten).
        Ordered by (batch, alert columns) for determinism.

        TEST-SCALE convenience: this COLLECTS the entire history into
        the driver, so its memory is O(alerts over the query lifetime)
        — a year-long continuous deployment must use ``alerts_df()``
        (distributed, never collects) or bound the history with
        ``auto_prune_alerts``/``prune_alerts``; past
        ``ALERTS_COLLECT_WARN_DIRS`` batch dirs this property warns.
        Use ``recent_alerts`` for the in-memory tail without a read
        job."""
        # ONE listing serves both the existence check and the warn
        # count (alerts_df would list again — r12 review finding 5)
        n_dirs = len(_list_fs(self.spark, f"{self.state_dir}/alerts/batch=*"))
        if n_dirs == 0:
            return []
        df = self.spark.read.parquet(f"{self.state_dir}/alerts")
        if n_dirs > self.ALERTS_COLLECT_WARN_DIRS:
            import warnings

            warnings.warn(
                f"collecting {n_dirs} alert batches into the driver via "
                "the alerts property; a long-lived deployment should use "
                "alerts_df() (distributed) or prune_alerts/"
                "auto_prune_alerts for retention",
                ResourceWarning,
                stacklevel=2,
            )
        cols = [c for c in df.columns if c != "batch"]
        return [
            r[0]
            for r in df.orderBy(F.col("batch").cast("long"), *cols)
            .select(F.struct(*cols).alias("r"))
            .collect()
        ]

    @property
    def recent_alerts(self) -> list:
        """The bounded in-memory tail: flagged rows of the last
        ``ALERTS_TAIL_BATCHES`` batches THIS object drained."""
        return [
            r
            for b in sorted(self._alerts_by_batch)
            for r in self._alerts_by_batch[b]
        ]

    def _screen_params(self) -> dict:
        """The parameters baked into this state's stored index rows —
        overridden per state. Empty dict = nothing to pin (e.g. the
        contamination screen, whose benchmark is rebuilt per object)."""
        return {}

    def _check_screen_params(self) -> None:
        """Pin the index-defining parameters to the store (r12, the
        parameter sibling of the id_bucket layout marker): recorded in
        a ``_screen_params`` side-file at the store's first batch;
        every later session must match or ``ScreenParamsError`` is
        raised BEFORE any read or write. A pre-marker store (built by
        earlier releases) adopts the current session's values — they
        produced it in practice — and is stamped; so does a marker
        over an EMPTY store (crash before the first batch's index
        write landed — nothing pinned is worth protecting). Checked
        once per state object."""
        params = self._screen_params()
        if not params or getattr(self, "_params_checked", False):
            return
        import json

        from stream4flow_spark.llmdata.export import _write_side_file

        marker = f"{self.state_dir}/_screen_params"
        recorded = _read_side_file(self.spark, marker)
        if recorded is not None:
            stored = json.loads(recorded)
            diffs = {
                k: (stored.get(k), params.get(k))
                for k in sorted(set(stored) | set(params))
                if stored.get(k) != params.get(k)
            }
            if diffs and not [
                d
                for d in _list_fs(self.spark, f"{self.state_dir}/*/batch=*")
                if d.rstrip("/").rsplit("/", 2)[-2] != "alerts"
            ]:
                # marker with NOTHING indexed: a crash during the very
                # first batch, after the pin write but before any index
                # data landed (r12 advice). The pin exists to protect
                # stored fingerprints; there are none (alerts don't
                # count — they are outputs, not index rows), so adopt
                # this session's parameters and re-stamp.
                diffs = {}
                _write_side_file(
                    self.spark, marker, json.dumps(params, sort_keys=True)
                )
            if diffs:
                raise ScreenParamsError(
                    f"the index at {self.state_dir} was built with "
                    "different index-defining parameters than this "
                    f"session configured: "
                    + ", ".join(
                        f"{k}: stored={s!r} configured={c!r}"
                        for k, (s, c) in diffs.items()
                    )
                    + " — rows indexed under the stored parameters can "
                    "never match this session's fingerprints, so the "
                    "screen would silently go blind to the whole prior "
                    "corpus. Restore the recorded parameters or rebuild "
                    "the store."
                )
        else:
            _write_side_file(
                self.spark, marker, json.dumps(params, sort_keys=True)
            )
        self._params_checked = True

    @staticmethod
    def _store_bucket(col: Column, n_buckets: int) -> Column:
        """Bucket function for id-partitioned verify stores — the
        write-time and fetch-time definitions MUST agree, so there is
        exactly one. It never takes the value ``n_buckets``, which
        names the whole-store dir (``_bucket_rows``)."""
        return F.pmod(F.xxhash64(col), F.lit(n_buckets))

    @classmethod
    def _bucket_rows(cls, spark, df: DataFrame, n_buckets: int) -> DataFrame:
        """``df`` with its ``id_bucket`` column, partitioned for a
        ``partitionBy("id_bucket")`` write — the fan-out choice
        ``_write_store`` and the fold share. A ``partitionBy`` write
        pays for each file it commits: 100 rows of 65 longs took 0.68 s
        over 64 bucket dirs against 0.16 s as one file (4 cores). So a
        write whose bytes are below ``_WHOLE_STORE_BYTES`` goes whole:
        every row into ONE file under ``id_bucket=<n_buckets>``, a value
        the bucket function never takes, which every pruned read also
        reads. A larger write splits: one file per bucket, at most one
        task per core (``_bucket_tasks``). Correctness never depends on
        the choice.

        The bytes are the optimizer's size estimate of ``df``, which
        runs no job: a materialized persisted table reports its cached
        size (26-52 KB for a 100-doc near-dup batch's signatures), a
        parquet scan its files' bytes, a source of unknown size
        ``Long.MaxValue`` (so it splits)."""
        if _below_whole_store(df):
            return df.withColumn("id_bucket", F.lit(n_buckets)).coalesce(1)
        return df.withColumn(
            "id_bucket", cls._store_bucket(F.col("id"), n_buckets)
        ).repartition(_bucket_tasks(spark, n_buckets), F.col("id_bucket"))

    def _resolve_store_buckets(self, sub: str, configured: int | None) -> int | None:
        """Resolve the id_bucket layout for a verify store (r12 review
        findings 1+2). The layout is a property of the STORE: a
        ``<sub>._layout`` side-file records the bucket count (or
        ``flat``; ``_layout_marker``) at first write, and later
        sessions must agree —

        - marker present + configured matches → use it;
          a legacy bare-count marker is re-stamped in the current
          form first, before any whole-store dir is written;
        - marker present + configured differs → ``StoreLayoutError``
          (a mismatched fetch filter silently drops stored rows) —
          UNLESS the store holds no batch dirs (crash during the first
          batch after the marker write, r12 advice): nothing indexed
          means nothing to protect, so the configured layout is
          adopted and re-stamped;
        - no marker, store ABSENT (fresh) → write the marker with the
          configured value and use it;
        - no marker, store EXISTS (written before markers existed) →
          detect the on-disk layout: flat dirs force ``None`` (writing
          bucketed dirs into a flat store would crash every later read
          with Spark's conflicting-directory-structures error — the
          upgrade trap), bucketed dirs cross-check the configured
          count against the observed id_bucket values (every value
          must be <= configured, ``configured`` being the whole-store
          dir) before stamping it.

        Cached per sub for the state object's lifetime."""
        if sub in self._store_buckets:
            return self._store_buckets[sub]
        from stream4flow_spark.llmdata.export import _write_side_file

        marker = f"{self.state_dir}/{sub}._layout"
        recorded = _read_side_file(self.spark, marker)
        batch_dirs = _list_fs(self.spark, f"{self.state_dir}/{sub}/batch=*")
        if recorded is not None and not batch_dirs:
            # marker with NOTHING indexed: a crash during the store's
            # very first batch, after the marker write but before any
            # data landed (r12 advice). The pin protects stored rows;
            # there are none, so adopt this session's layout instead of
            # raising over a phantom store.
            recorded = None
        stamp = recorded is None
        if recorded is not None:
            val, stamp = _parse_layout(recorded)
            if val != configured:
                raise StoreLayoutError(
                    f"the '{sub}' store at {self.state_dir} was written "
                    f"with {sub.rstrip('s')}_buckets="
                    f"{'None (flat)' if val is None else val} but this "
                    f"session configured {configured}; pass the recorded "
                    "value (the bucket function is baked into the "
                    "directory layout) or rebuild the store"
                )
        else:
            if not batch_dirs:
                val = configured  # fresh store: the knob decides
            elif _list_fs(self.spark, f"{batch_dirs[0]}/id_bucket=*"):
                # pre-marker bucketed store: sanity-check the session's
                # count against the observed layout before stamping it
                # (r12 advice) — if the marker was lost and the session
                # configures a DIFFERENT count, the fetch filter would
                # silently prune the wrong partitions. Every on-disk
                # id_bucket value must fall in [0, configured]: pmod
                # never emits >= its modulus and ``configured`` is the
                # whole-store dir, so a larger value proves the store
                # was written with a different count.
                observed = {
                    int(tail)
                    for p in _list_fs(
                        self.spark,
                        f"{self.state_dir}/{sub}/batch=*/id_bucket=*",
                    )
                    if (tail := p.rsplit("id_bucket=", 1)[1]).isdigit()
                }
                if configured is None or (
                    observed and max(observed) > configured
                ):
                    raise StoreLayoutError(
                        f"the '{sub}' store at {self.state_dir} has a "
                        "bucketed id_bucket layout on disk (observed "
                        f"values up to {max(observed, default='?')}) "
                        "that is inconsistent with this session's "
                        f"configured buckets={configured} and carries "
                        "no _layout marker to arbitrate; pass the "
                        "count the store was written with or rebuild it"
                    )
                # the range check is one-directional (r13 advice): a
                # store written with FEWER buckets than configured
                # (8-bucket store, 32 configured — max observed 7 < 32)
                # sails through it, and the verify fetch would then
                # prune against the wrong modulus and silently drop
                # stored rows. Recompute the bucket function for a
                # bounded sample of stored ids and require each to land
                # in the id_bucket dir it was read from. Rows of the
                # whole-store dir ``id_bucket=<configured>`` may hold
                # any id and are skipped; a whole dir written under a
                # smaller count is sampled like any bucket dir, so it
                # fails the check.
                sample = (
                    self.spark.read.parquet(f"{self.state_dir}/{sub}")
                    .select("id", "id_bucket")
                    .filter(F.col("id_bucket") != configured)
                    .limit(256)
                )
                mismatched = sample.filter(
                    self._store_bucket(F.col("id"), configured)
                    != F.col("id_bucket").cast("long")
                ).count()
                if mismatched:
                    raise StoreLayoutError(
                        f"the '{sub}' store at {self.state_dir} has a "
                        "bucketed id_bucket layout whose on-disk "
                        "assignments disagree with this session's "
                        f"configured buckets={configured} for "
                        f"{mismatched} sampled ids (the store was "
                        "written with a different bucket count) and "
                        "carries no _layout marker to arbitrate; pass "
                        "the count the store was written with or "
                        "rebuild it"
                    )
                val = configured
            else:
                # pre-marker FLAT store: adopt flat instead of writing
                # a mixed layout that crash-loops every later read
                if configured is not None:
                    import warnings

                    warnings.warn(
                        f"'{sub}' store at {self.state_dir} predates "
                        "id_bucket layouts and is flat; ignoring "
                        f"configured buckets={configured} (rebuild the "
                        "store to adopt scan-pruned fetches)",
                        stacklevel=2,
                    )
                val = None
        if stamp:
            _write_side_file(self.spark, marker, _layout_marker(val))
        self._store_buckets[sub] = val
        return val

    def _prune_store_to_candidates(
        self,
        idx: DataFrame,
        cand: DataFrame,
        n_buckets: int | None,
        cid_col: str = "cid",
    ) -> DataFrame:
        """Restrict a verify store's read to the candidates' id_bucket
        partitions (r11 verdict item 3, generalized r12 to every
        by-id verify fetch). The bucket list is collected — bounded by
        n_buckets, and usually far smaller since candidates are few
        post-threshold — so the filter is a LITERAL isin and the scan
        prunes STATICALLY at file listing, which a join (runtime-only)
        can never do for a plain parquet store. Without it the verify
        side READS the whole archive every micro-batch even though the
        join only KEEPS candidate rows. The whole-store dirs
        (``id_bucket=<n_buckets>``, ``_bucket_rows``) may hold any id,
        so they are always read in full; each is under
        ``_WHOLE_STORE_BYTES``, cheaper to read than the split files it
        stands for are to open. No-op for unbucketed legacy stores."""
        if n_buckets is None or "id_bucket" not in idx.columns:
            return idx
        bks = [
            r.b
            for r in cand.select(
                self._store_bucket(F.col(cid_col), n_buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        if not bks:
            # no candidates: skip the store read entirely
            return idx.filter(F.lit(False))
        return idx.filter(F.col("id_bucket").isin(bks + [n_buckets]))

    def _write_store(
        self, df: DataFrame, path: str, n_buckets: int | None
    ) -> None:
        """Write an index store's per-batch dir, partitioned by
        ``id_bucket`` when bucketing is on (the layout
        ``_prune_store_to_candidates`` prunes; ``compact`` preserves
        it through folds); ``n_buckets`` None writes a flat dir.

        The fan-out follows the write's bytes (``_bucket_rows``): below
        ``_WHOLE_STORE_BYTES`` every row goes into one file, a larger
        write splits one file per bucket (per partition when flat). A
        split write shuffles the rows onto their bucket BEFORE
        ``partitionBy``: without that, every upstream task emits a file
        per bucket it happens to hold — tasks × n_buckets tiny files.

        ``df`` must be persisted and computed, so its estimate is its
        cached size and ``coalesce(1)`` only gathers it. ExactSubstr
        ``grams``, CDC ``chunkfps`` and the output dirs write bare:
        they are not persisted, so ``coalesce(1)`` would run their whole
        upstream in one task, and their plan size ignores ``explode``."""
        if n_buckets is None:
            if _below_whole_store(df):
                df = df.coalesce(1)
            df.write.mode("overwrite").parquet(path)
            return
        self._bucket_rows(self.spark, df, n_buckets).write.mode(
            "overwrite"
        ).partitionBy("id_bucket").parquet(path)

    def _has_index(self, sub: str) -> bool:
        """Existence probe for an index sub-dir. Once a sub-dir exists
        it never disappears (every batch writes one; compaction always
        leaves the consolidated + newest dirs), so a positive result is
        cached and the per-batch existence glob — another O(dirs)
        listing that grows with the store — is paid once per sub per
        state object, not once per micro-batch."""
        if sub in self._index_seen:
            return True
        if _list_fs(self.spark, f"{self.state_dir}/{sub}/batch=*"):
            self._index_seen.add(sub)
            return True
        return False

    def _read_prior(
        self, sub: str, batch_id: int, merge_schema: bool = False
    ) -> DataFrame | None:
        """Read an index sub-dir EXCLUDING the current batch's own
        partition. On a foreachBatch redelivery (crash after the index
        write, before the checkpoint commit), ``{sub}/batch=<batch_id>``
        holds the FAILED attempt's rows; reading them would make the
        redelivered batch screen against itself — every clean document
        self-matches, gets flagged, and is dropped from the index
        (silent durable corruption). The ``batch`` partition column is
        discovered from the dir layout, the filter prunes the attempt's
        files at the scan, and the column is then dropped so downstream
        projections see the same schema as before.

        The predicate is an inequality on the STRING form of the
        partition value, not ``batch < batch_id``: after ``compact``
        the consolidated dir is ``batch=compacted-<gen>`` (partition
        inference then types the column string), and a numeric compare
        would cast it to NULL and silently drop the whole compacted
        index from every read."""
        if not self._has_index(sub):
            return None
        reader = self.spark.read
        cached = self._store_schemas.get(sub)
        if cached is not None:
            # r14 fixed-cost shave: within a state object's lifetime
            # the store's schema is settled after the first successful
            # read (this object is the only writer, and it writes one
            # consistent schema), so later micro-batches reuse it and
            # skip both schema inference and the mergeSchema
            # footer-sweep — per-batch re-planning cost that grew with
            # the store for no information. The parquet reader fills
            # columns absent from older files with NULL, which is
            # exactly what mergeSchema produced. The cache outlives
            # compactions (the ``batch`` pin below), and the auto
            # fold reads through it too.
            reader = reader.schema(cached)
        elif merge_schema:
            # TTL stores can mix stamped and pre-TTL unstamped batch
            # dirs; without mergeSchema, whether `indexed_at` exists
            # depends on WHICH footer Spark samples — nondeterministic
            # screening (r10 review). Merging makes the column present
            # whenever any file carries it; unstamped rows read NULL.
            # Cost: a footer-merge over the store's files, paid on the
            # first read of the state's lifetime (the merged schema is
            # cached above; an explicit schema can't replace the FIRST
            # read because the id column's type derives from the
            # caller's corpus).
            reader = reader.option("mergeSchema", "true")
        try:
            with _driver_side_listing(self.spark):
                df = reader.parquet(f"{self.state_dir}/{sub}")
        except AnalysisException as e:
            # every batch dir is empty: a bucketed write of an empty
            # micro-batch leaves only _SUCCESS (partitionBy emits no
            # schema-bearing part file, unlike a flat empty write), so
            # schema inference has nothing to read. Semantically the
            # store IS empty — treat as absent instead of crash-looping
            # the stream (r12 review finding 4). ONLY that error class:
            # anything else re-raises rather than silently skipping the
            # screen (r12 advice).
            _raise_unless_empty_store(e)
            return None
        if cached is None:
            # the store grows monotonically and this session's writes
            # carry a fixed schema, so a schema observed once (merged,
            # when merge_schema asked for it) stays valid for the
            # object's lifetime. A new column this session writes that
            # the first read predates cannot happen mid-lifetime: the
            # only such transition (unstamped store gaining TTL stamps)
            # raises PreTtlIndexError instead. The ``batch`` partition
            # column is pinned to STRING in the cached copy: a
            # compaction can rename the consolidated dir to
            # ``batch=compacted-<gen>`` while this object lives
            # (``maybe_compact`` keeps this cache, and a manual
            # ``State.compact`` call cannot reach it), and a cached int
            # partition type would then either fail the partition-value
            # cast or NULL it out and silently drop the consolidated
            # index.
            # The read filter below already compares the string form.
            from pyspark.sql.types import StringType, StructField, StructType
            self._store_schemas[sub] = StructType([
                StructField(f.name, StringType(), True)
                if f.name == "batch" else f
                for f in df.schema.fields
            ])
        return (
            df
            .filter(F.col("batch").cast("string") != F.lit(str(batch_id)))
            .drop("batch")
        )

    def _read_index(self, batch_id: int) -> tuple:
        """The prior index, one DataFrame per ``_COMPACT`` sub in that
        order — or all None when any sub is missing: a crash landed
        between two index writes (e.g. bands written, sigs not), the
        redelivered batch overwrites every sub, so the half-written
        index reads as absent instead of crash-looping on the missing
        side (r10 review). With ``ttl_batches`` only the live horizon
        is returned, ``indexed_at`` dropped."""
        ttl = self.ttl_batches is not None
        prior = [
            self._read_prior(sub, batch_id, merge_schema=ttl)
            for sub in self._COMPACT
        ]
        if any(df is None for df in prior):
            return (None,) * len(prior)
        if ttl:
            # live horizon: the previous ttl_batches batches participate
            # (>=, not > — strict compare made ttl_batches=1 expire the
            # IMMEDIATELY preceding batch and disabled screening
            # entirely, r10 review); unstamped pre-TTL rows read NULL
            # and are conservatively expired. A pure pre-TTL store has
            # no stamps in ANY file (mergeSchema saw every footer): fail
            # loud instead of silently treating the whole index as
            # expired (r11 verdict item 6).
            live = F.col("indexed_at") >= F.lit(batch_id - self.ttl_batches)
            prior = [
                _require_ttl_stamps(sub, df, self.state_dir)
                .filter(live)
                .drop("indexed_at")
                for sub, df in zip(self._COMPACT, prior)
            ]
        return tuple(prior)


class NeardupIndexState(_ArrivalIndexState):
    """Streaming near-dup screening against a GROWING on-disk LSH index —
    the continuous-crawl form of ``dedup.incremental_neardup``.

    Each micro-batch: (1) minhash-band the batch docs; (2) join their
    (band, bucket) keys against the stored index (ids only on the
    wire) AND against each other — two near-copies arriving within the
    same micro-batch are compared too (the later id flags against the
    earlier), not both silently indexed; (3) verify candidates by
    SIGNATURE similarity — the fraction of agreeing minhash components,
    an unbiased Jaccard estimate — so the index never stores document
    text or shingles, only num_perm longs per doc; (4) append the
    batch's bands + signatures for the NEXT batches. A doc flagged
    near-dup is reported, not indexed (duplicates shouldn't attract
    future duplicates to themselves). ``sig_buckets`` (default ON)
    hash-partitions the signature store by ``id_bucket`` so the verify
    fetch scan-prunes to the candidates' buckets instead of READING
    every stored signature each micro-batch — the same layout contract
    as ``WinnowIndexState.text_buckets``: recorded in a store-side
    marker at first write, mismatches fail loud (``StoreLayoutError``),
    preserved through compaction, legacy flat stores adopted as flat.

    Retry-safe the same way ``streaming/ddos.py`` is: per-batch
    append dirs keyed by batch_id, so foreachBatch redelivery
    overwrites rather than double-appending — and the alert snapshot is
    keyed by batch_id too (replace, not extend), so a redelivered batch
    reports its near-dups once. State on disk is
    O(indexed docs × (bands + num_perm)) longs — the minimum any
    near-dup index carries. By default there is NO horizon eviction
    (near-dup against the WHOLE corpus is the semantics);
    ``ttl_batches`` switches on the TTL'd variant: every index row is
    stamped with its ``indexed_at`` batch id and rows older than
    ``batch_id - ttl_batches`` stop participating in the screen — the
    "duplicate within the recent horizon" semantics (e.g. recrawl
    windows), with index reads pruned to the live horizon. Enabling TTL
    over a store written WITHOUT stamps raises ``PreTtlIndexError``
    (the old silent-expiry reading disabled screening with no error);
    enable TTL from the first batch, or backfill stamps once via the
    compactor's ``backfill_indexed_at``. The read filter
    bounds what SCREENS; disk reclamation happens at compaction —
    ``maybe_compact`` passes the live-horizon floor so expired rows are
    dropped from the fold instead of being copied forward forever
    (manual callers: ``NeardupIndexState.compact(spark, state_dir,
    min_indexed_at=...)``).
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        num_perm: int = 64,
        rows_per_band: int = 2,
        threshold: float = 0.5,
        max_bucket: int | None = 10_000,
        sig_buckets: int | None = 64,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        super().__init__(
            spark, state_dir, auto_compact_dirs, auto_prune_alerts,
            ttl_batches,
        )
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.num_perm = num_perm
        self.rows_per_band = rows_per_band
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.sig_buckets = sig_buckets

    def _screen_params(self) -> dict:
        # shingle n, permutation count, and band width define every
        # stored band key and signature; threshold/max_bucket are
        # read-time and stay free
        return {"n": self.n, "num_perm": self.num_perm,
                "rows_per_band": self.rows_per_band}

    _COMPACT = ("bands", "sigs")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # a micro-batch is fixed-cost bound: a compacting 100-doc batch
        # (4 cores) spends ~2.9 s here and ~0.6 s in maybe_compact over
        # 23 Spark jobs and 1.6 s of task time, once its ~50 KB
        # signature writes stopped paying for a file per id_bucket
        # (_bucket_rows). The rest is driver-side plan building, job
        # scheduling and store listing, which do not shrink with the
        # batch.
        self._last_batch = batch_id
        self._check_screen_params()
        from stream4flow_spark.llmdata.dedup import (
            _bands_of,
            minhash_table,
            word_ngrams,
        )

        sh = batch_df.select(
            F.col(self.id_col).alias("id"),
            word_ngrams(F.col(self.text_col), self.n).alias("grams"),
        )
        # persist the batch's derived tables: sigs feeds the banding,
        # BOTH verify sides and its store write; bands feeds the
        # collision joins AND its own store write. Without the cache
        # each consumer re-tokenizes and re-hashes the micro-batch
        # (num_perm hashes per gram). The bands derive from the cached
        # sigs, so the minhash kernel runs once per batch. Batch-bounded
        # memory.
        sigs = minhash_table(sh, self.num_perm).persist()
        bands = _bands_of(
            sigs, self.num_perm, self.rows_per_band, self.max_bucket
        ).persist()
        m = [f"m{i}" for i in range(self.num_perm)]

        sig_buckets = self._resolve_store_buckets("sigs", self.sig_buckets)
        idx_bands, idx_sigs = self._read_index(batch_id)
        # intra-batch candidates: two near-copies in the SAME micro-batch
        # collide on their own band keys; the later id plays the dup, the
        # earlier the keeper (a doc may chain: flagged itself yet still
        # the best_match of an even-later arrival — same semantics as the
        # batch path's transitive clusters)
        cand = (
            bands.alias("d")
            .join(
                bands.alias("c"),
                (F.col("d.band") == F.col("c.band"))
                & (F.col("d.bucket") == F.col("c.bucket"))
                & (F.col("d.id") > F.col("c.id")),
            )
            .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
        )
        if idx_bands is not None:
            cand = cand.unionByName(
                bands.alias("d")
                .join(
                    idx_bands.alias("c"),
                    (F.col("d.band") == F.col("c.band"))
                    & (F.col("d.bucket") == F.col("c.bucket")),
                )
                .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
            )
        # lazy checkpoint: cand feeds the bucket collect AND the verify
        # join — the banded collision join must not re-run per consumer
        cand = cand.dropDuplicates(["id", "cid"]).localCheckpoint(eager=False)
        # candidate keepers: prior batches' signatures + this batch's own
        # (schemas derive from the batch — no hardcoded id type; the
        # parquet side carries an extra batch partition column, dropped
        # by the projection). The stored side is scan-pruned to the
        # candidates' id_bucket partitions first (sig_buckets): the
        # verify join only KEEPS candidate rows, but without the literal
        # partition filter it READS the whole signature archive every
        # micro-batch.
        if idx_sigs is not None:
            idx_sigs = self._prune_store_to_candidates(
                idx_sigs, cand, sig_buckets
            )
        cs_base = sigs if idx_sigs is None else idx_sigs.select(
            "id", *m
        ).unionByName(sigs)
        # the 64-wide projections and the agreement sum are built as SQL
        # strings, one parse each: as Column calls they would cost ~600
        # py4j round trips per batch, each paying PySpark's call-site
        # capture. Same analysed plan as the Column form (the sum keeps
        # the ``+ 0`` seed Python's sum() gave it).
        ds = sigs.selectExpr("id", *[f"{c} AS d_{c}" for c in m])
        cs = cs_base.selectExpr("id AS cid", *[f"{c} AS c_{c}" for c in m])
        agree = " + ".join(
            ["CAST((d_m0 = c_m0) AS INT) + 0"]
            + [
                f"CAST((d_m{i} = c_m{i}) AS INT)"
                for i in range(1, self.num_perm)
            ]
        )
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(
            F.col("est_jaccard").desc(), F.col("cid").asc()
        )
        flagged = (
            cand.join(ds, "id")
            .join(cs, "cid")
            .withColumn(
                "est_jaccard",
                F.expr(f"round(({agree}) / {self.num_perm}, 4)"),
            )
            .filter(F.col("est_jaccard") >= self.threshold)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "id",
                F.col("cid").alias("best_match_id"),
                "est_jaccard",
            )
        )
        # the alert stream is the (small) report output — durable
        # per-batch sink + bounded driver tail (_record_alerts); the
        # index update itself stays distributed (anti-join, no id list
        # through the driver). keyed by batch_id: a foreachBatch
        # redelivery REPLACES the batch's alerts, never double-counts
        flagged = flagged.persist()
        rows = self._record_alerts(batch_id, flagged)

        # index only the non-duplicate arrivals; per-batch dirs make a
        # foreachBatch retry overwrite instead of double-append. The
        # anti-join runs only when something WAS flagged (rows is the
        # whole flag set, already collected) — the common clean batch
        # writes the cached tables straight through
        bands_out, sigs_out = bands, sigs
        if rows:
            flagged_only_ids = F.broadcast(flagged.select("id"))
            bands_out = bands.join(flagged_only_ids, "id", "left_anti")
            sigs_out = sigs.join(flagged_only_ids, "id", "left_anti")
        if self.ttl_batches is not None:
            stamp = F.lit(batch_id).cast("long").alias("indexed_at")
            bands_out = bands_out.select("*", stamp)
            sigs_out = sigs_out.select("*", stamp)
        _parallel_writes(
            lambda: self._write_store(
                bands_out, f"{self.state_dir}/bands/batch={batch_id}", None
            ),
            lambda: self._write_store(
                sigs_out, f"{self.state_dir}/sigs/batch={batch_id}",
                sig_buckets,
            ),
        )
        flagged.unpersist()
        bands.unpersist()
        sigs.unpersist()
        self.maybe_compact()


def _parallel_writes(*thunks) -> None:
    """Run independent per-batch store writes as concurrent Spark jobs
    (guide §2.6): the writes touch different dirs and source from
    already-derived (usually persisted) batch tables, so the second
    job's tasks back-fill the first's straggler tail instead of
    waiting behind it. perfbench ``arrival_screen`` (4 cores, 10
    alternating pairs, ``--seconds 15``): ``op_p50_s`` median 4.66 s
    concurrent vs 5.25 s sequential, concurrent faster in 9 of 10
    pairs (the parent's quartile spread is 0.56 s). Exceptions
    propagate via result(); crash semantics are unchanged because every
    reader already treats a half-written batch dir pair as absent."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


class SemanticIndexState(_ArrivalIndexState):
    """Streaming SEMANTIC near-dup screening against a GROWING on-disk
    sign-LSH bucket index — the embedding-space sibling of
    ``NeardupIndexState`` / the continuous-crawl form of
    ``simsearch.incremental_semantic_neardup``.

    Each micro-batch: (1) bucket the batch vectors (one GEMM,
    ``sign_lsh_bucket_table``); (2) join their (tbl, bucket) keys
    against the stored index AND against each other (intra-batch pairs:
    later id vs earlier id); (3) verify candidates with EXACT cosine —
    vectors fetched by id from the stored vector store + this batch;
    (4) append the batch's buckets + vectors for the NEXT batches. A
    flagged vector is reported, not indexed. Retry-safe via per-batch
    dirs + batch-keyed alert snapshots, like the minhash twin.
    ``vec_buckets`` (default ON) hash-partitions the vector store by
    ``id_bucket`` so the exact-cosine fetch scan-prunes to the
    candidates' buckets instead of READING every stored embedding each
    micro-batch — on THIS tier the bound matters most in bytes, since
    a stored vector is ~8·dim B/row (same layout contract as
    ``WinnowIndexState.text_buckets``: store-side marker, loud
    ``StoreLayoutError`` on mismatch, legacy flat stores adopted flat).

    ``ttl_batches`` bounds BOTH stores to the recent horizon — the same
    stamped-rows contract as every other arrival index (r11 verdict
    item 2: this was the LAST index without horizon bounding, and its
    per-row state — the embedding vectors — is the heaviest of all
    five tiers, so an unbounded continuous deployment grows fastest
    here). Rows stamped ``indexed_at``; vectors older than ``batch_id -
    ttl_batches`` stop participating in the screen (buckets and vecs
    share the floor, so a live bucket row's verify vector is always
    live too); compaction reclaims the dead horizon from disk
    (``maybe_compact`` passes the live floor). Enabling TTL over an
    unstamped store raises ``PreTtlIndexError``; enable TTL from the
    first batch, or backfill via ``SemanticIndexState.compact(...,
    backfill_indexed_at=...)``.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_planes: int = 8,
        dim: int = 64,
        num_tables: int = 2,
        threshold: float = 0.3,
        max_bucket: int | None = 10_000,
        vec_buckets: int | None = 64,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        super().__init__(
            spark, state_dir, auto_compact_dirs, auto_prune_alerts,
            ttl_batches,
        )
        self.id_col = id_col
        self.vec_col = vec_col
        self.num_planes = num_planes
        self.dim = dim
        self.num_tables = num_tables
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.vec_buckets = vec_buckets

    def _screen_params(self) -> dict:
        # the hyperplane family (planes x tables at a given dim)
        # defines every stored bucket key; threshold is read-time
        return {"num_planes": self.num_planes, "dim": self.dim,
                "num_tables": self.num_tables}

    _COMPACT = ("buckets", "vecs")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._last_batch = batch_id
        self._check_screen_params()
        from stream4flow_spark.llmdata.simsearch import (
            cosine,
            sign_lsh_bucket_table,
        )

        # persist the batch's derived tables: buckets (a GEMM-backed
        # pandas UDF — the batch's heaviest map work) feeds the
        # collision join and its store write; vecs feeds both verify
        # sides and its store write (r12 verdict item 4, fixed-cost
        # shave). Batch-bounded memory.
        buckets = sign_lsh_bucket_table(
            batch_df,
            num_planes=self.num_planes,
            dim=self.dim,
            num_tables=self.num_tables,
            max_bucket=self.max_bucket,
            id_col=self.id_col,
            vec_col=self.vec_col,
        ).persist()
        vecs = batch_df.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        ).persist()

        vec_buckets = self._resolve_store_buckets("vecs", self.vec_buckets)
        idx_buckets, idx_vecs = self._read_index(batch_id)
        cand = (
            buckets.alias("d")
            .join(
                buckets.alias("c"),
                (F.col("d.tbl") == F.col("c.tbl"))
                & (F.col("d.bucket") == F.col("c.bucket"))
                & (F.col("d.id") > F.col("c.id")),
            )
            .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
        )
        if idx_buckets is not None:
            cand = cand.unionByName(
                buckets.alias("d")
                .join(
                    idx_buckets.select("id", "tbl", "bucket").alias("c"),
                    (F.col("d.tbl") == F.col("c.tbl"))
                    & (F.col("d.bucket") == F.col("c.bucket")),
                )
                .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
            )
        # lazy checkpoint: cand feeds the bucket collect AND the verify
        # join — the LSH collision join must not re-run per consumer
        cand = cand.dropDuplicates(["id", "cid"]).localCheckpoint(eager=False)
        # the stored vectors — the HEAVIEST per-row state of the five
        # arrival indexes — are scan-pruned to the candidates' id_bucket
        # partitions (vec_buckets) before the exact-cosine fetch: the
        # verify join only KEEPS candidate rows, but without the literal
        # partition filter it READS every stored embedding every batch
        if idx_vecs is not None:
            idx_vecs = self._prune_store_to_candidates(
                idx_vecs, cand, vec_buckets
            )
        cs_base = (
            vecs
            if idx_vecs is None
            else idx_vecs.select("id", "v").unionByName(vecs)
        )
        ds = vecs.select("id", F.col("v").alias("dv"))
        cs = cs_base.select(F.col("id").alias("cid"), F.col("v").alias("cv"))
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(
            F.col("cos").desc(), F.col("cid").asc()
        )
        flagged = (
            cand.join(ds, "id")
            .join(cs, "cid")
            .withColumn("cos", F.round(cosine(F.col("dv"), F.col("cv")), 4))
            .filter(F.col("cos") >= self.threshold)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("cid").alias("best_match_id"), "cos")
        )
        flagged = flagged.persist()
        rows = self._record_alerts(batch_id, flagged)
        buckets_out, vecs_out = buckets, vecs
        if rows:
            flagged_only_ids = F.broadcast(flagged.select("id"))
            buckets_out = buckets.join(flagged_only_ids, "id", "left_anti")
            vecs_out = vecs.join(flagged_only_ids, "id", "left_anti")
        if self.ttl_batches is not None:
            stamp = F.lit(batch_id).cast("long").alias("indexed_at")
            buckets_out = buckets_out.select("*", stamp)
            vecs_out = vecs_out.select("*", stamp)
        _parallel_writes(
            lambda: self._write_store(
                buckets_out, f"{self.state_dir}/buckets/batch={batch_id}",
                None,
            ),
            lambda: self._write_store(
                vecs_out,
                f"{self.state_dir}/vecs/batch={batch_id}",
                vec_buckets,
            ),
        )
        flagged.unpersist()
        buckets.unpersist()
        vecs.unpersist()
        self.maybe_compact()


class WinnowIndexState(_ArrivalIndexState):
    """Streaming near-dup screening against a GROWING on-disk
    winnowing-fingerprint index — the substring-structural member of
    the arrival-index family (continuous-crawl form of
    ``dedup.incremental_winnow_neardup``), closing the matrix: all five
    blocking tiers (exact digest, MinHash, semantic, ExactSubstr,
    winnow) now have batch + incremental + streaming forms.

    Each micro-batch: (1) fingerprint the batch docs with the SAME
    winnowing rule as the index (``dedup.winnow_index`` — bottom-m
    sketch + bucket cap, 8-byte fps + ids only on the wire);
    (2) collision-join the batch fps against the stored index AND
    against each other (intra-batch pairs: later id vs earlier id),
    keeping pairs with ≥ ``min_shared`` shared fingerprints;
    (3) verify candidates with TRUE word n-gram Jaccard — the earlier
    side's text fetched by id from the stored text store + this batch
    (winnowing blocks on a shared substring, so unlike the MinHash
    twin the verify needs the text back; the text store doubles as the
    crawl's durable corpus archive, which a production pipeline keeps
    anyway); (4) append the batch's fps + texts for the NEXT batches.
    A flagged doc is reported, not indexed. Retry-safe via per-batch
    dirs + batch-keyed alert snapshots + the ``_read_prior`` own-batch
    exclusion, like every arrival index here.

    The ``max_bucket`` hot-fingerprint cap applies per batch index
    build (delta-locally), the same per-side bound as
    ``incremental_winnow_neardup`` documents; ``compact`` consolidates
    the per-batch dirs without changing the screen.

    ``text_buckets`` (default ON) bounds the verify fetch's SCAN, not
    just its tokenization (r11 verdict item 3): text rows are written
    hash-partitioned by ``id_bucket = pmod(xxhash64(id),
    text_buckets)``, and each batch's fetch first collects the
    candidates' distinct buckets (≤ text_buckets values — the
    candidate set is small post-threshold) and filters the store read
    on them, so STATIC partition pruning drops every non-candidate
    bucket's files at the listing. Without it, the left-semi bounds
    what gets TOKENIZED to O(candidates) but a plain parquet store
    still READS O(archive) bytes per micro-batch — the dominant verify
    term on a year-long crawl. Compaction preserves the partitioning.
    The layout is a property of the STORE, recorded in a
    ``texts._layout`` side-file at first write: a later session with a
    different bucket count fails loud (``StoreLayoutError``), and a
    store created before bucketing existed is adopted as flat with a
    warning — never a mixed layout.

    ``ttl_batches`` bounds BOTH stores to the recent horizon, exactly
    like the MinHash twin: every fingerprint/text row is stamped with
    its ``indexed_at`` batch id, rows older than ``batch_id -
    ttl_batches`` stop participating in the screen (fps and texts share
    the floor, so a live fingerprint's verify text is always live too),
    and compaction reclaims the dead horizon from disk
    (``maybe_compact`` passes the live floor). Enabling TTL over an
    unstamped store raises ``PreTtlIndexError`` — enable TTL from the
    first batch, or backfill via ``WinnowIndexState.compact(...,
    backfill_indexed_at=...)``. With TTL the text store is no
    longer a full corpus archive: point long-retention archival at its
    own sink if you need one.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 16,
        window: int = 8,
        min_shared: int = 2,
        n: int = 3,
        threshold: float = 0.5,
        max_fps_per_doc: int | None = 32,
        max_bucket: int | None = 150,
        text_buckets: int | None = 64,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        super().__init__(
            spark, state_dir, auto_compact_dirs, auto_prune_alerts,
            ttl_batches,
        )
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.window = window
        self.min_shared = min_shared
        self.n = n
        self.threshold = threshold
        self.max_fps_per_doc = max_fps_per_doc
        self.max_bucket = max_bucket
        self.text_buckets = text_buckets

    def _screen_params(self) -> dict:
        # k-gram length, winnow window, and hash kernel define every
        # stored fingerprint; min_shared/threshold/caps are read-time.
        # md5 is the only kernel: a store pinned to an older one
        # ("rolling") raises ScreenParamsError instead of screening
        # against fingerprints that cannot match.
        return {"k": self.k, "window": self.window, "hash_mode": "md5"}

    _COMPACT = ("fps", "texts")

    def _read_index(self, batch_id: int):
        fps, texts = super()._read_index(batch_id)
        if fps is None:
            return None, None
        # (fp, id) rows are unique by construction, but a compaction
        # crash-window can expose folded rows twice (see ``compact``)
        # — and unlike the semi-join/rank-window consumers, the
        # shared-fps COUNT would double. Dedup is semantically free.
        return fps.dropDuplicates(["fp", "id"]), texts

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._last_batch = batch_id
        self._check_screen_params()
        from pyspark.sql import Window

        from stream4flow_spark.llmdata.dedup import (
            ngram_jaccard,
            winnow_index,
            word_ngrams,
        )

        # persist the batch's derived tables: dfps (the md5 winnowing
        # stages) feeds the collision join and its store write; texts
        # feeds both verify semi-joins and its store write (r12
        # verdict item 4, fixed-cost shave). Batch-bounded memory.
        dfps = winnow_index(
            batch_df,
            text_col=self.text_col,
            id_col=self.id_col,
            k=self.k,
            window=self.window,
            max_fps_per_doc=self.max_fps_per_doc,
            max_bucket=self.max_bucket,
        ).persist()
        texts = batch_df.select(
            F.col(self.id_col).alias("id"),
            F.col(self.text_col).alias("t"),
        ).persist()

        text_buckets = self._resolve_store_buckets("texts", self.text_buckets)
        idx_fps, idx_texts = self._read_index(batch_id)
        # collision rows are NOT de-duplicated before the count — a pair
        # sharing 3 fingerprints must count 3 toward min_shared. Batch
        # and index ids are disjoint (stream ids are unique), so one
        # groupBy counts both pair kinds correctly.
        coll = (
            dfps.alias("d")
            .join(
                dfps.alias("c"),
                (F.col("d.fp") == F.col("c.fp"))
                & (F.col("d.id") > F.col("c.id")),
            )
            .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
        )
        if idx_fps is not None:
            coll = coll.unionByName(
                dfps.alias("d")
                .join(idx_fps.alias("c"), F.col("d.fp") == F.col("c.fp"))
                .select(F.col("d.id").alias("id"), F.col("c.id").alias("cid"))
            )
        cand = (
            coll.groupBy("id", "cid")
            .agg(F.count("*").alias("shared_fps"))
            .filter(F.col("shared_fps") >= self.min_shared)
        )
        # Candidate-bounded verify fetch (r10 verdict): semi-join each
        # text source on the candidate ids BEFORE the word_ngrams
        # projection — Catalyst won't defer a projection below a join
        # probe, so the written plan otherwise tokenizes the ENTIRE
        # persisted text archive every micro-batch, O(archive) where
        # "text fetched by id" promises O(candidates). The semi-join is
        # correctness-neutral (the verify join is inner on the same
        # ids); candidates are few post-threshold, so AQE broadcasts
        # them and the archive never shuffles for the fetch. Lazy
        # checkpoint: cand now feeds four consumers (the bucket
        # collect, two semi-joins, the verify join) and must not
        # re-run the collision join per consumer.
        cand = cand.localCheckpoint(eager=False)
        if idx_texts is not None:
            # r11 verdict item 3: the semi-join bounds the TOKENIZE but
            # not the SCAN — prune the store read to the candidates'
            # id_bucket partitions before anything touches it
            idx_texts = self._prune_store_to_candidates(
                idx_texts, cand, text_buckets
            )
        ct_base = (
            texts
            if idx_texts is None
            else idx_texts.select("id", "t").unionByName(texts)
        )
        gd = texts.join(
            cand.select("id").distinct(), "id", "left_semi"
        ).select("id", word_ngrams(F.col("t"), self.n).alias("grams_d"))
        gc = ct_base.join(
            cand.select(F.col("cid").alias("id")).distinct(),
            "id",
            "left_semi",
        ).select(
            F.col("id").alias("cid"),
            word_ngrams(F.col("t"), self.n).alias("grams_c"),
        )
        w = Window.partitionBy("id").orderBy(
            F.col("jaccard").desc(), F.col("cid").asc()
        )
        flagged = (
            cand.join(gd, "id")
            .join(gc, "cid")
            .withColumn(
                "jaccard",
                F.round(ngram_jaccard(F.col("grams_d"), F.col("grams_c")), 4),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "id",
                F.col("cid").alias("best_match_id"),
                F.col("jaccard").alias("best_jaccard"),
            )
        )
        flagged = flagged.persist()
        rows = self._record_alerts(batch_id, flagged)
        fps_out, texts_out = dfps, texts
        if rows:
            flagged_only_ids = F.broadcast(flagged.select("id"))
            fps_out = dfps.join(flagged_only_ids, "id", "left_anti")
            texts_out = texts.join(flagged_only_ids, "id", "left_anti")
        if self.ttl_batches is not None:
            stamp = F.lit(batch_id).cast("long").alias("indexed_at")
            fps_out = fps_out.select("*", stamp)
            texts_out = texts_out.select("*", stamp)
        _parallel_writes(
            lambda: self._write_store(
                fps_out, f"{self.state_dir}/fps/batch={batch_id}", None
            ),
            lambda: self._write_store(
                texts_out,
                f"{self.state_dir}/texts/batch={batch_id}",
                text_buckets,
            ),
        )
        flagged.unpersist()
        dfps.unpersist()
        texts.unpersist()
        self.maybe_compact()


class ExactSubstrIndexState(_ArrivalIndexState):
    """Streaming ExactSubstr cleaning against a GROWING on-disk gram
    index — the continuous-crawl form of
    ``dedup.incremental_exact_substr`` (and the arrival-ordered twin of
    the batch ``exact_substr_dedup``): every micro-batch's documents
    are stripped of any ≥ min_len-token passage already present in the
    indexed corpus OR repeated within the batch (batch-wide first copy
    kept), then the batch's ORIGINAL grams join the index so later
    arrivals dedup against the uncut text.

    Because ``incremental_exact_substr``'s semantics equal the batch
    operator restricted to the delta whenever prior ids precede delta
    ids, draining an id-ordered stream through this state reproduces
    the batch output document-for-document (parity-tested in
    tests/test_streaming.py).

    State on disk: 8 B per distinct corpus gram (``grams/batch=<id>``
    dirs; duplicates across batch dirs are harmless — the screen is a
    semi-join — and ``compact`` consolidates).
    Cleaned documents land in ``clean/batch=<id>``. Both writes are
    keyed by batch_id, so a foreachBatch redelivery overwrites instead
    of double-appending, and the alert snapshot (documents that lost
    tokens) is replace-not-extend — the retry-safety contract every
    arrival index here shares."""

    def __init__(
        self,
        spark,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_len: int = 15,
        bloom_prefilter: int | None = None,
        bloom_shards: int = 16,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        """``bloom_prefilter`` = expected distinct grams PER BATCH:
        when set, the stored gram index — the side that grows with the
        whole corpus while each batch stays bounded — is Bloom-pruned
        map-side against the batch's grams before the exact semi-join
        (``incremental_exact_substr``'s bloom path). Identical output
        (no false negatives); the index stops shuffling itself in full
        every micro-batch. ``bloom_shards`` defaults sharded: the batch
        gram count varies with crawl bursts and the sharded bitmap
        degrades gracefully instead of overflowing one broadcast cell.

        ``ttl_batches`` bounds the gram index to the recent horizon
        (the MinHash twin's TTL contract): rows stamped ``indexed_at``,
        grams older than ``batch_id - ttl_batches`` stop cutting later
        arrivals — "repeated within the recrawl window" semantics —
        and compaction reclaims expired rows from disk. Enabling TTL
        over an unstamped store raises ``PreTtlIndexError``; enable TTL
        from the first batch, or backfill via
        ``ExactSubstrIndexState.compact(...,
        backfill_indexed_at=...)``.
        The batch-parity
        property (arrival-ordered stream == batch operator) only holds
        for the unbounded default."""
        super().__init__(
            spark, state_dir, auto_compact_dirs, auto_prune_alerts,
            ttl_batches,
        )
        self.text_col = text_col
        self.id_col = id_col
        self.min_len = min_len
        self.bloom_prefilter = bloom_prefilter
        self.bloom_shards = bloom_shards

    def _screen_params(self) -> dict:
        # the gram hash is over min_len-token windows — a different
        # min_len never matches any stored gram
        return {"min_len": self.min_len}

    _COMPACT = ("grams",)

    def _read_index(self, batch_id: int):
        (grams,) = super()._read_index(batch_id)
        return None if grams is None else grams.select("gh")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._last_batch = batch_id
        self._check_screen_params()
        from stream4flow_spark.llmdata.dedup import (
            exact_substr_index,
            incremental_exact_substr,
        )

        idx = self._read_index(batch_id)
        if idx is None:
            idx = self.spark.createDataFrame([], "gh bigint")
        cleaned = incremental_exact_substr(
            None,
            batch_df,
            text_col=self.text_col,
            id_col=self.id_col,
            min_len=self.min_len,
            corpus_index=idx,
            bloom_prefilter=self.bloom_prefilter,
            bloom_shards=self.bloom_shards,
        )
        # index the batch's ORIGINAL grams (uncut text): the first copy
        # keeps its full text, so later arrivals must dedup against it
        grams_out = exact_substr_index(
            batch_df, self.text_col, self.id_col, self.min_len
        )
        if self.ttl_batches is not None:
            grams_out = grams_out.select(
                "*", F.lit(batch_id).cast("long").alias("indexed_at")
            )
        _parallel_writes(
            lambda: cleaned.write.mode("overwrite").parquet(
                f"{self.state_dir}/clean/batch={batch_id}"
            ),
            lambda: grams_out.write.mode("overwrite").parquet(
                f"{self.state_dir}/grams/batch={batch_id}"
            ),
        )
        # durable + bounded: one row per document that lost tokens,
        # derived from the batch's already-written clean dir
        self._record_alerts(
            batch_id,
            self.spark.read.parquet(f"{self.state_dir}/clean/batch={batch_id}")
            .filter(F.col("n_removed") > 0)
            .select(self.id_col, "n_removed"),
        )
        self.maybe_compact()

    def cleaned(self) -> DataFrame:
        """Every drained batch's cleaned documents."""
        return self.spark.read.parquet(f"{self.state_dir}/clean").drop("batch")


class CdcIndexState(_ArrivalIndexState):
    """Streaming CDC duplicated-chunk audit against a GROWING on-disk
    chunk-fingerprint index — the continuous-crawl form of
    ``dedup.incremental_cdc_chunks``, completing the content-defined
    chunking tier's batch + incremental + streaming triple (the same
    shape every other blocking tier has). Each micro-batch's documents
    are audited against the indexed corpus' chunk fps AND each other
    (intra-batch repeats keep the batch-wide first by (id, pos)); ALL
    of the batch's distinct chunk fps then join the index so later
    arrivals audit against them. Because
    ``incremental_cdc_chunks`` equals the batch operator restricted to
    the delta whenever prior ids precede delta ids, draining an
    id-ordered stream reproduces the batch audit row-for-row
    (parity-tested).

    State on disk: one fp per DISTINCT corpus chunk (a 32-character
    md5 hex string) under ``chunkfps/batch=<id>`` — retry-safe
    batch-keyed dirs + the ``_read_prior`` own-batch exclusion; audits
    land in ``audit/batch=<id>``; alerts = documents with duplicated
    chunks (durable, ``_record_alerts``). ``ttl_batches`` bounds the
    index to a recrawl horizon exactly like the ExactSubstr twin
    (stamped rows, conservative pre-TTL expiry, compaction-time
    reclamation)."""

    def __init__(
        self,
        spark,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        context: int = 3,
        divisor: int = 8,
        auto_compact_dirs: int | None = None,
        auto_prune_alerts: int | None = None,
        ttl_batches: int | None = None,
    ):
        super().__init__(
            spark, state_dir, auto_compact_dirs, auto_prune_alerts,
            ttl_batches,
        )
        self.text_col = text_col
        self.id_col = id_col
        self.context = context
        self.divisor = divisor

    def _screen_params(self) -> dict:
        # boundary context/divisor and the fp hash define every stored
        # chunk fingerprint; md5 is the only hash, so a store pinned to
        # "xxhash" raises ScreenParamsError
        return {"context": self.context, "divisor": self.divisor,
                "hash_mode": "md5"}

    _COMPACT = ("chunkfps",)

    def _read_index(self, batch_id: int):
        (fps,) = super()._read_index(batch_id)
        return None if fps is None else fps.select("chunk_fp")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._last_batch = batch_id
        self._check_screen_params()
        from stream4flow_spark.llmdata.dedup import (
            cdc_chunk_index,
            incremental_cdc_chunks,
        )

        idx = self._read_index(batch_id)
        if idx is None:
            idx = self.spark.createDataFrame([], "chunk_fp string")
        audited = incremental_cdc_chunks(
            None,
            batch_df,
            text_col=self.text_col,
            id_col=self.id_col,
            context=self.context,
            divisor=self.divisor,
            corpus_index=idx,
        )
        fps_out = cdc_chunk_index(
            batch_df, self.text_col, self.id_col, self.context, self.divisor
        )
        if self.ttl_batches is not None:
            fps_out = fps_out.select(
                "*", F.lit(batch_id).cast("long").alias("indexed_at")
            )
        _parallel_writes(
            lambda: audited.write.mode("overwrite").parquet(
                f"{self.state_dir}/audit/batch={batch_id}"
            ),
            lambda: fps_out.write.mode("overwrite").parquet(
                f"{self.state_dir}/chunkfps/batch={batch_id}"
            ),
        )
        self._record_alerts(
            batch_id,
            self.spark.read.parquet(f"{self.state_dir}/audit/batch={batch_id}")
            .filter(F.col("n_dup_chunks") > 0)
            .select(self.id_col, "n_dup_chunks", "n_dup_tokens"),
        )
        self.maybe_compact()

    def audited(self) -> DataFrame:
        """Every drained batch's per-document audit rows."""
        return self.spark.read.parquet(f"{self.state_dir}/audit").drop("batch")


class ContaminationScreenState(_ArrivalIndexState):
    """Two-stage decontamination-on-arrival (r10 verdict item 6) — the
    end-to-end consumer of ``decontaminate.contamination_screen``:

    - **Stage 1 (map-side, stateless)**: every arriving document gets
      ``n_suspect_grams`` — an upper bound on its true distinct-gram
      overlap with the benchmark — from ONE projection against the
      broadcast Bloom bitmap (built and persisted ONCE at state
      construction; the benchmark is a fixed reference set, so unlike
      the arrival indexes there is no growing on-disk state). Docs
      under ``min_overlap`` are certainly clean (no false negatives)
      and flow straight through — at ingest proportions that is the
      overwhelming majority, and they never shuffle.
    - **Stage 2 (exact, sliver-only)**: the quarantined suspects run
      the EXACT ``contamination_counts`` join against the benchmark;
      only documents whose true overlap clears ``min_overlap`` are
      flagged. Because stage 1 over-approximates, the flagged set is
      IDENTICAL to running the exact path on everything — parity- and
      reduction-tested in tests/test_streaming.py.

    Clean documents land in ``clean/batch=<id>`` (redelivery
    overwrites); flagged docs are the durable alert stream
    (``_record_alerts``). ``screen_stats`` records per-batch
    (n_docs, n_suspects) so the exact-path row reduction is observable;
    it keeps the same bounded tail as the alert snapshots."""

    _COMPACT = ()  # no growing index — the benchmark is fixed

    def __init__(
        self,
        spark,
        state_dir: str,
        benchmark: DataFrame,
        n: int = 3,
        min_overlap: int = 2,
        expected_grams: int = 1_000_000,
        fpp: float = 0.01,
        text_col: str = "text",
        id_col: str = "doc_id",
        auto_prune_alerts: int | None = None,
    ):
        super().__init__(spark, state_dir, auto_prune_alerts=auto_prune_alerts)
        self.n = n
        self.min_overlap = min_overlap
        self.expected_grams = expected_grams
        self.fpp = fpp
        self.text_col = text_col
        self.id_col = id_col
        from stream4flow_spark.llmdata.decontaminate import (
            benchmark_gram_bitmap,
            word_ngrams,
        )

        self.benchmark = benchmark.persist()
        self._bitmap = benchmark_gram_bitmap(
            benchmark, n, expected_grams, fpp, text_col
        ).persist()
        # stage-2 artifact, also built ONCE: the exact check's distinct
        # hashed benchmark grams — without this, contamination_counts
        # would re-run the benchmark tokenize+explode+distinct every
        # micro-batch (O(benchmark) per batch, r11 review)
        self._bench_grams = (
            benchmark.select(
                F.explode(word_ngrams(F.col(text_col), n)).alias("g")
            )
            .select(F.xxhash64("g").alias("gram"))
            .distinct()
            .persist()
        )
        self.screen_stats: dict[int, tuple[int, int]] = {}

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from stream4flow_spark.llmdata.decontaminate import (
            contamination_counts,
            contamination_screen,
        )

        screened = contamination_screen(
            batch_df,
            None,
            n=self.n,
            expected_grams=self.expected_grams,
            fpp=self.fpp,
            text_col=self.text_col,
            id_col=self.id_col,
            bitmap=self._bitmap,
        ).persist()
        # ONE quarantine predicate: the stats count reuses the same
        # DataFrame the exact stage consumes, so the reported suspect
        # count can never desync from what stage 2 actually processed
        suspects = screened.filter(
            F.col("n_suspect_grams") >= self.min_overlap
        )
        exact = contamination_counts(
            suspects.drop("n_suspect_grams"),
            None,
            n=self.n,
            text_col=self.text_col,
            id_col=self.id_col,
            hash_grams=True,
            bench_grams=self._bench_grams,
        )
        flagged = exact.filter(
            F.col("n_contaminated_grams") >= self.min_overlap
        ).persist()
        rows = self._record_alerts(batch_id, flagged)
        clean = batch_df
        if rows:
            clean = batch_df.join(
                F.broadcast(flagged.select(self.id_col)),
                self.id_col,
                "left_anti",
            )
        clean.write.mode("overwrite").parquet(
            f"{self.state_dir}/clean/batch={batch_id}"
        )
        self.screen_stats[batch_id] = (screened.count(), suspects.count())
        while len(self.screen_stats) > self.ALERTS_TAIL_BATCHES:
            self.screen_stats.pop(min(self.screen_stats))
        flagged.unpersist()
        screened.unpersist()

    def cleaned(self) -> DataFrame:
        """Every drained batch's decontaminated documents."""
        return self.spark.read.parquet(f"{self.state_dir}/clean").drop("batch")


def prune_alerts(spark, state_dir: str, keep_last: int) -> int:
    """Retention for the durable alert stream: delete
    ``alerts/batch=<id>`` dirs older than the newest ``keep_last``
    batches; returns the number deleted. The per-batch dirs are
    append-only forever otherwise — one small parquet dir per
    micro-batch, which at one batch/minute is ~500k dirs/year, and
    LISTING (not data size) is what degrades on object stores (the
    same pathology ``auto_compact_dirs`` bounds for the index dirs).
    Alerts are never folded by the index compactors on purpose: a
    compaction crash-window exposes folded rows twice, which the
    semi-join index consumers tolerate but a COUNTED alert stream must
    not. Deleting whole old batch dirs has no such window, and the
    newest dir is always retained so a foreachBatch redelivery still
    overwrites its own attempt. Ship older alerts to the result store
    BEFORE pruning if dashboards need full history; after pruning, the
    ``alerts`` property returns the retained tail only. Apply the same
    lifecycle thinking to the output dirs (``clean/``, ``audit/``) —
    they are the product, so their retention belongs to the deployment
    (DEPLOY.md)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    dirs = _list_fs(spark, f"{state_dir}/alerts/batch=*")
    ids = sorted(
        (int(d.rsplit("batch=", 1)[1]), d)
        for d in dirs
        if d.rsplit("batch=", 1)[1].lstrip("-").isdigit()
    )
    doomed = ids[: max(0, len(ids) - keep_last)]
    if not doomed:
        return 0
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    for _, d in doomed:
        p = path_cls(d)
        p.getFileSystem(conf).delete(p, True)
    return len(doomed)
