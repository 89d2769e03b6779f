"""Fact store — date-partitioned Parquet with idempotent upsert-by-key (S5).

Reference parity: ``MemoryStorage.StoreMetrics`` —
/root/reference/internal/storage/memory.go:20-26 — blindly APPENDS each
batch, so re-running `/ingest/run` duplicates every stored row even though
the docs claim idempotency (README.md:350-354, SYSTEM_DESIGN.md:5-16).

Engine decision (SURVEY.md §7 decision 4): the default mode makes the
documented claim true — ``upsert`` merges the incoming batch with existing
facts per MetricKey (re-summing measures, re-deriving ratios) and
overwrites ONLY the partitions the batch touches (dynamic partition
overwrite).  ``append`` mode replicates raw reference behavior.

Scale design:
* Partitioned by ``date`` — F5 exact-day reads and F3/F4 ranges prune
  statically; a 100 TB fact table becomes per-day directories.
* Dynamic partition overwrite limits each upsert's write amplification to
  the days present in the batch, not the whole table.
* The merge is one grouped SUM over (existing days ∩ batch days) + batch —
  a single shuffle on the composite key, partial-agg'd map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions import fs
from admira_etl_project_prueba_spark.functions.metrics import with_derived_metrics
from admira_etl_project_prueba_spark.schemas import (
    DERIVED_COLS,
    METRIC_KEY_COLS,
    METRICS_SCHEMA,
)

_MONEY_DECIMAL = "decimal(25,6)"


def _resum_aggs():
    """The MetricKey re-sum: additive measures summed (money through the
    exact decimal intermediate), shared by the upsert merge and the
    stream-log fold so the two can never drift."""
    return [
        F.sum("clicks").cast("long").alias("clicks"),
        F.sum("impressions").cast("long").alias("impressions"),
        F.sum(F.col("cost").cast(_MONEY_DECIMAL)).cast("double").alias("cost"),
        F.sum("leads").cast("long").alias("leads"),
        F.sum("opportunities").cast("long").alias("opportunities"),
        F.sum("closed_won").cast("long").alias("closed_won"),
        F.sum(F.col("revenue").cast(_MONEY_DECIMAL)).cast("double").alias("revenue"),
    ]


def _rebalanced(batch: DataFrame) -> DataFrame:
    """``batch`` rebalanced by ``date``, for writes that land it verbatim
    (an append, an upsert into an empty store): AQE then sizes the write
    tasks, coalescing small days and splitting skewed ones.  Without it
    the write inherits the caller's partitioning, and a cached batch
    keeps every ``spark.sql.shuffle.partitions`` partition (AQE does not
    coalesce a cached plan's output), each writing one file per day it
    holds."""
    return batch.hint("rebalance", "date")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key``.

    Two tables bucketed the same way co-locate matching keys on disk, so
    an equi-join between them needs NO exchange and NO sort — the 100 TB
    play for repeated fact-fact joins on a stable key (tested:
    tests/test_bucketing.py asserts the shuffle-free plan).  Bucketed
    layout requires the table catalog (``saveAsTable``), not bare paths.
    """
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key)
        .mode(mode)
        .saveAsTable(table)
    )


class MetricsStore:
    """Parquet-backed fact store with reference-shaped read/write API.

    ``versioned=True`` opts the store into the immutable-snapshot layout
    (``functions/fs.commit_version``): every write — upsert, append,
    replace, compact — commits the FULL payload as the next
    ``vNNNNNNNN``.  The untouched date partitions are re-read from the
    current version and re-written through Spark together with the
    changed days (``_upsert_frames`` builds that frame, ``_commit_full``
    writes it to ``__building.*`` scratch), then one rename commits it.
    Readers resolve the newest version once at scan start, so a report
    mid-read can never lose partitions to a concurrent upsert — the
    reader-isolation gap the flat layout's dynamic partition overwrite
    cannot close.  The write-amplification trade (a full decode and
    re-write per write vs the flat layout's touched-partitions-only) is
    the documented price of snapshots; batch deployments that upsert
    once per ingest cycle pay it once per cycle.
    A flat store stays readable by the same instance (versioned only
    changes how NEW writes land)."""

    def __init__(self, spark: SparkSession, path: str, versioned: bool = False):
        self.spark = spark
        self.path = path
        self.versioned = bool(versioned)

    def _root(self) -> str:
        """Current payload dir: newest committed version, or the flat
        path (resolved per call — readers pin a snapshot by resolving
        once at scan start, which ``read`` does implicitly)."""
        return fs.resolve_store_root(self.spark, self.path)

    def _is_versioned(self) -> bool:
        """Versioned if asked for OR the store already holds committed
        versions (a versioned store stays versioned even when the flag
        is forgotten on a later instance)."""
        return self.versioned or fs.latest_version(self.spark, self.path) is not None

    # -- read ---------------------------------------------------------------
    def exists(self) -> bool:
        """True iff the store has been written.

        Goes through the session's Hadoop FS (functions/fs), NOT
        ``os.path`` — on an HDFS/S3A URI the local-FS form silently
        returns False for a populated store, so every read path would
        treat real facts as "nothing stored yet".  Heals a crashed
        compaction swap first: in the swap's one crash window the only
        copy sits at ``path__old``, and "absent ⇒ empty frame" would
        read an existing store as empty (same silent-loss mode the
        index stores guard, docs/OPERATIONS.md).

        If the window is open but healing declined (a LIVE writer in
        another process is mid-swap), this raises rather than answer:
        False here would make ``read()`` fabricate an EMPTY facts frame
        for a store that exists — callers must see a retryable error,
        not zero rows.
        """
        if fs.latest_version(self.spark, self.path) is not None:
            # versioned layout: committed versions are immutable and
            # complete by construction — no swap window to heal or dodge
            return fs.dir_nonempty(self.spark, self._root())
        fs.heal_if_crashed(self.spark, self.path)
        if fs.swap_window_open(self.spark, self.path):
            raise IOError(
                f"store at {self.path} is mid-swap by another process "
                "(maintenance in progress) — retry"
            )
        return fs.dir_nonempty(self.spark, self.path)

    def read(self) -> DataFrame:
        """All stored facts; empty frame when nothing stored yet.
        Versioned stores resolve the newest snapshot once here — the
        whole downstream plan reads that version even if a writer
        commits mid-scan.  The scan takes the declared fact schema, so no
        Spark job runs here to infer it from parquet footers."""
        if not self.exists():
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        df = self.spark.read.schema(METRICS_SCHEMA).parquet(self._root())
        # the partition column lands last; restore the fact column order
        return df.select(*METRICS_SCHEMA.fieldNames())

    # -- versioned-write plumbing -------------------------------------------
    #: hidden subdir inside each committed version holding the stream-fold
    #: ledger (underscore prefix ⇒ invisible to parquet partition
    #: discovery, so ``read()`` never sees it) — the stream batches
    #: already folded into this payload, committed ATOMICALLY with it by
    #: the version rename.  That atomicity is the whole exactly-once
    #: story for :meth:`fold_stream_log`: payload and ledger can never
    #: disagree.  BOUNDED representation: one row per stream —
    #: ``(stream_id, hwm, tail)`` where every ``batch_id <= hwm`` is
    #: folded and ``tail`` holds only out-of-order folded ids beyond the
    #: watermark — instead of one row per batch ever folded, which grew
    #: linearly with the store's whole streaming lifetime.  Micro-batch
    #: ids are only unique PER QUERY (a second source, or a replay from
    #: a fresh checkpoint, restarts at 0), hence the per-stream keying.
    #: Legacy one-``key``-per-batch ledgers read compatibly and compact
    #: into this form on their next commit.
    _LEDGER = "_folded_batches"

    @staticmethod
    def _compact_ledger(
        folded: dict[str, tuple[int, set[int]]],
    ) -> dict[str, tuple[int, frozenset[int]]]:
        """Advance each stream's watermark through its tail: hwm absorbs
        every contiguous id above it, the tail keeps only the gap-ridden
        remainder — the invariant that keeps the ledger bounded by the
        fold's reorder window, not by history."""
        out: dict[str, tuple[int, frozenset[int]]] = {}
        for sid, (hwm, tail) in folded.items():
            pend = set(tail)
            while hwm + 1 in pend:
                hwm += 1
                pend.discard(hwm)
            out[sid] = (hwm, frozenset(b for b in pend if b > hwm))
        return out

    def stream_fold_ledger(self) -> dict[str, tuple[int, frozenset[int]]]:
        """Per-stream folded-batch memory of the CURRENT version:
        ``{stream_id: (hwm, tail)}`` — batch ``b`` of ``stream_id`` is
        folded iff ``b <= hwm or b in tail``.  Empty for flat stores /
        never-folded stores.  Legacy ledgers (one ``key`` row per
        ``stream_id:batch_id``) are parsed and compacted on read."""
        if fs.latest_version(self.spark, self.path) is None:
            return {}
        p = f"{self._root()}/{self._LEDGER}"
        if not fs.dir_nonempty(self.spark, p):
            return {}
        df = self.spark.read.parquet(p)
        if "key" in df.columns:  # pre-round-13 unbounded format
            acc: dict[str, set[int]] = {}
            for r in df.collect():
                sid, _, b = str(r["key"]).rpartition(":")
                acc.setdefault(sid, set()).add(int(b))
            return self._compact_ledger(
                {s: (-1, ids) for s, ids in acc.items()}
            )
        return self._compact_ledger(
            {
                str(r["stream_id"]): (
                    int(r["hwm"]),
                    set(int(b) for b in (r["tail"] or [])),
                )
                for r in df.collect()
            }
        )

    def _commit_full(
        self,
        full: DataFrame,
        ledger: dict[str, tuple[int, frozenset[int]]] | None = None,
    ) -> None:
        """Write ``full`` (the COMPLETE next payload) as the next
        immutable version.  Caller holds the store lease.  A flat store
        opting into versioning migrates here: its payload lands in v1
        and the flat remnants are swept after the commit (one-time
        transition; subsequent writes have no window at all).

        The stream-fold ledger rides along: ``ledger`` (when given)
        replaces it, otherwise the current version's ledger is carried
        FORWARD — a plain upsert/replace/compact between two folds must
        not lose the folded-batch memory, or a fold replay would double
        the already-folded increments."""
        if ledger is None:
            ledger = self.stream_fold_ledger()
        was_flat = (
            fs.latest_version(self.spark, self.path) is None
            and fs.dir_nonempty(self.spark, self.path)
        )
        fs.clean_version_scratch(self.spark, self.path)
        tmp = fs.version_scratch(self.path)
        full.write.partitionBy("date").mode("overwrite").parquet(tmp)
        if ledger:
            (
                self.spark.createDataFrame(
                    [
                        (sid, int(hwm), sorted(int(b) for b in tail))
                        for sid, (hwm, tail) in sorted(ledger.items())
                    ],
                    "stream_id string, hwm long, tail array<long>",
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{tmp}/{self._LEDGER}")
            )
        fs.commit_version(self.spark, self.path, tmp)
        if was_flat:
            # sweep pre-migration flat children (date=*/_SUCCESS); version
            # dirs and live scratch are not touched
            jfs, _, jvm = fs._fs_and_path(self.spark, self.path)
            for name in fs.list_child_names(self.spark, self.path):
                if fs._is_version_name(name) or name.startswith("__building."):
                    continue
                jfs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{self.path.rstrip('/')}/{name}"
                    ),
                    True,
                )

    # -- write --------------------------------------------------------------
    def store(self, batch: DataFrame, mode: str = "upsert") -> None:
        """Persist a consolidated batch.

        * ``upsert`` (default): merge with existing rows per MetricKey,
          re-sum measures, re-derive ratios; overwrite only touched date
          partitions.
        * ``append``: raw reference behavior (memory.go:24) — duplicates on
          re-ingest, kept for byte-level compat experiments.
        """
        if mode == "append":
            batch = _rebalanced(batch)
            # leased like every other writer: an append landing inside a
            # LIVE compact()'s swap window (path absent mid-renames) would
            # CREATE a batch-only directory that the swap's second rename
            # then nests the compacted layout into — and a crashed swap's
            # window must heal before the append (round-8 convention).
            with fs.maintenance_lease(self.spark, self.path):
                if self._is_versioned():
                    existing = self.read()
                    self._commit_full(
                        existing.unionByName(batch.select(existing.columns))
                    )
                    return
                fs.recover_swap(self.spark, self.path)
                (batch.write.mode("append").partitionBy("date").parquet(self.path))
            return
        if mode != "upsert":
            raise ValueError(f"unknown store mode: {mode}")

        # the upsert is a read-modify-write (existing days fold into the
        # batch): the WHOLE cycle — exists-decision, merge plan, dynamic
        # overwrite — holds the store's single-writer lease, or two
        # concurrent upserts interleave and one batch's increments are
        # silently lost (same contract as every index-store fold)
        with fs.maintenance_lease(self.spark, self.path):
            fs.recover_swap(self.spark, self.path)
            merged, full = self._upsert_frames(batch)
            if self._is_versioned():
                # snapshot layout: the next version carries untouched
                # days + the merged days, committed with one rename
                self._commit_full(full)
                return
            # dynamic partitionOverwriteMode (session.py) ⇒ only the date
            # partitions present in `merged` are replaced.
            merged.write.partitionBy("date").mode("overwrite").parquet(self.path)

    def _upsert_frames(self, batch: DataFrame):
        """(merged, full) for an upsert of ``batch`` — caller HOLDS the
        store lease.  ``merged``: the batch's days after re-summing with
        the stored rows for those days (what the flat layout's dynamic
        overwrite writes); ``full``: merged + untouched days (what the
        versioned layout commits)."""
        merged = _rebalanced(batch)
        untouched = None
        if fs.dir_nonempty(self.spark, self._root()):
            existing = self.read()
            # Only days present in the batch can change; restrict the
            # merge input so the shuffle is sized by the batch, not
            # the table.
            batch_dates = batch.select("date").distinct()
            relevant = existing.join(
                F.broadcast(batch_dates), "date", "left_semi"
            )
            untouched = existing.join(
                F.broadcast(batch_dates), "date", "left_anti"
            )
            both = relevant.select(batch.columns).unionByName(batch)
            resummed = both.groupBy(*METRIC_KEY_COLS).agg(*_resum_aggs())
            merged = with_derived_metrics(resummed).select(batch.columns)
        full = merged
        if untouched is not None:
            full = untouched.select(merged.columns).unionByName(merged)
        return merged, full

    def fold_stream_log(self, log_path: str) -> int:
        """Exactly-once drain of a :func:`streaming.ingest.
        stream_metrics_ingest` batch log into the store — the leased
        maintenance fold that gives `/ingest/run` its streaming twin
        (S1→A1→F1→S5 landing in the versioned fact store).

        Exactly-once without trusting the stream OR the fold to not
        replay: the log is batch_id-partitioned with dynamic overwrite
        (an at-least-once micro-batch replay overwrites its own
        partition), and each committed store version carries the ledger
        of folded batches inside the version dir — per-stream
        high-watermark + out-of-order tail, bounded by the reorder
        window rather than by the store's streaming lifetime —
        payload and ledger flip together in the commit rename, so a fold
        that crashed anywhere simply re-runs: already-ledgered batches
        are skipped, unledgered ones refold against the unchanged
        previous version.  Increments are additive (the upsert re-sums
        measures and re-derives ratios), which is exactly why the
        ledger, not an anti-join, is the idempotency mechanism here —
        unlike vec_id-keyed code folds, a metrics replay is
        indistinguishable from a genuine second increment.

        Requires the versioned layout (the flat layout has no atomic
        payload+ledger commit).  Cleanup deletes only the batch
        partitions this fold saw; all of them are in the ledger by then.
        The stream writer holds no lease (by design — ingest must never
        contend with maintenance), so a replayed micro-batch's dynamic
        partition overwrite can delete a pinned file mid-scan; the fold
        RETRIES with a fresh pin (content is deterministic and the
        ledger skips already-committed batches, so the retry is safe)
        instead of failing.  Returns the number of batches folded."""
        if not self._is_versioned():
            raise ValueError(
                "fold_stream_log requires a versioned MetricsStore "
                "(the exactly-once ledger commits atomically with the "
                "payload version)"
            )
        if not fs.path_exists(self.spark, log_path):
            return 0
        with fs.maintenance_lease(self.spark, self.path):
            fs.recover_swap(self.spark, self.path)
            last_exc: Exception | None = None
            for attempt in range(3):
                try:
                    return self._fold_stream_once(log_path)
                except Exception as exc:  # noqa: BLE001 — filtered below
                    if fs.is_file_not_found(exc) and attempt < 2:
                        last_exc = exc
                        continue
                    raise
            raise last_exc  # pragma: no cover — loop always returns/raises

    def _fold_stream_once(self, log_path: str) -> int:
        # pin the batch set FIRST: only these partitions are read below
        # and only these are deleted after the commit
        log = self.spark.read.parquet(log_path)
        key = F.concat_ws(":", "stream_id", "batch_id")
        pairs = {
            (str(r["stream_id"]), int(r["batch_id"]))
            for r in log.select("stream_id", "batch_id")
            .distinct()
            .collect()
        }
        if not pairs:
            return 0
        ledger = self.stream_fold_ledger()

        def covered(s: str, b: int) -> bool:
            hwm, tail = ledger.get(s, (-1, frozenset()))
            return b <= hwm or b in tail

        todo = sorted((s, b) for s, b in pairs if not covered(s, b))
        if todo:
            inc = log.filter(
                key.isin([f"{s}:{b}" for s, b in todo])
            ).drop("stream_id", "batch_id")
            # pre-consolidate ACROSS batches: the same MetricKey can
            # appear in several micro-batches; the upsert merge
            # expects unique keys per batch (and on an empty store
            # writes the batch verbatim)
            resummed = inc.groupBy(*METRIC_KEY_COLS).agg(*_resum_aggs())
            batch = with_derived_metrics(resummed).select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in METRICS_SCHEMA.fields
                ]
            )
            _, full = self._upsert_frames(batch)
            nxt = {s: (hwm, set(tail)) for s, (hwm, tail) in ledger.items()}
            for s, b in todo:
                nxt.setdefault(s, (-1, set()))[1].add(b)
            self._commit_full(full, ledger=self._compact_ledger(nxt))
        # every batch this fold saw is now in the current ledger —
        # a crash between commit and cleanup re-runs as cleanup-only
        jfs, _, jvm = fs._fs_and_path(self.spark, log_path)
        for s, b in sorted(pairs):
            jfs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{log_path.rstrip('/')}/stream_id={s}/batch_id={b}"
                ),
                True,
            )
        return len(todo)

    def stream_log_health(self, log_path: str) -> dict:
        """Fold-scheduling probe for a :func:`streaming.ingest.
        stream_metrics_ingest` batch log — the WHEN-to-fold signal every
        other store's maintenance surface has (``index_health``'s
        ``needs_*`` verdicts): pending batch count, distinct streams,
        and the oldest pending batch's age in ms.  Listing-only — two
        levels of directory metadata, no data read — so it is safe to
        poll; a concurrent fold or micro-batch landing mid-list just
        shifts the counts by one."""
        import time as _time

        out = {
            "path": log_path,
            "pending_batches": 0,
            "streams": 0,
            "oldest_pending_ms": 0,
            "needs_fold": False,
        }
        if not fs.path_exists(self.spark, log_path):
            return out
        oldest: int | None = None
        for sid in fs.list_child_names(self.spark, log_path):
            if not sid.startswith("stream_id="):
                continue
            batches = [
                b
                for b in fs.list_child_names(
                    self.spark, f"{log_path.rstrip('/')}/{sid}"
                )
                if b.startswith("batch_id=")
            ]
            if not batches:
                continue
            out["streams"] += 1
            out["pending_batches"] += len(batches)
            for b in batches:
                mt = fs.path_mtime(
                    self.spark, f"{log_path.rstrip('/')}/{sid}/{b}"
                )
                if mt >= 0 and (oldest is None or mt < oldest):
                    oldest = mt
        if oldest is not None:
            out["oldest_pending_ms"] = max(
                0, int(_time.time() * 1000) - oldest
            )
        out["needs_fold"] = out["pending_batches"] > 0
        return out

    def compact(self) -> tuple[int, int]:
        """Rewrite the store so each date partition holds one file.

        Streaming/incremental upserts accumulate small files per day; at
        object-store scale that means listing overhead and tiny reads.
        Compaction hash-colocates each day (``repartition("date")``) so
        the rewrite emits one file per day, staged to a sibling directory
        and installed with the same crash-safe two-rename swap every
        index store uses (``functions/fs.swap_into_place`` — Hadoop-FS
        API, so the identical code runs on HDFS/S3A where the old
        ``os.rename``/``shutil`` form crashed).  Held under the store's
        single-writer maintenance lease, same as the index compactions.
        Returns (files_before, files_after).
        """
        with fs.maintenance_lease(self.spark, self.path):
            fs.recover_swap(self.spark, self.path)
            root = self._root()
            if not fs.dir_nonempty(self.spark, root):
                return (0, 0)
            before = fs.count_files(self.spark, root)
            if self._is_versioned():
                # compaction is a full rewrite anyway: it simply becomes
                # the next committed version — no swap window at all
                self._commit_full(
                    self.spark.read.parquet(root).repartition("date")
                )
                return (before, fs.count_files(self.spark, self._root()))
            tmp = self.path.rstrip("/") + "__compacting"
            (
                self.spark.read.parquet(self.path)
                .repartition("date")
                .write.partitionBy("date")
                .mode("overwrite")
                .parquet(tmp)
            )
            fs.swap_into_place(self.spark, tmp, self.path)
            return (before, fs.count_files(self.spark, self.path))

    def store_idempotent_replace(self, batch: DataFrame) -> None:
        """Replace-by-day: incoming batch is the new truth for its days.

        The right mode when re-ingesting a corrected full day from sources
        (vs. `upsert`, which treats the batch as an increment).
        """
        # leased + healed, same rationale as the append path above
        with fs.maintenance_lease(self.spark, self.path):
            if self._is_versioned():
                full = batch
                if fs.dir_nonempty(self.spark, self._root()):
                    existing = self.read()
                    batch_dates = batch.select("date").distinct()
                    keep = existing.join(
                        F.broadcast(batch_dates), "date", "left_anti"
                    )
                    full = keep.select(batch.columns).unionByName(batch)
                self._commit_full(full)
                return
            fs.recover_swap(self.spark, self.path)
            batch.write.partitionBy("date").mode("overwrite").parquet(self.path)


def backfill_missing_dates(
    store: MetricsStore,
    source_dates: list[str],
    build_batch,
    batch_days: int = 7,
) -> dict:
    """Resumable backfill: materialize ONLY the dates the store lacks.

    The manifest of completed work IS the store's date-partition listing —
    no side-channel state file to desync; a killed run resumes exactly
    where the partitions stop, and re-running a completed backfill is a
    no-op (0 dates processed).  Missing dates are processed in
    ``batch_days`` groups: each group is one ``build_batch(dates) ->
    DataFrame`` call and one upsert, so a year-long backfill is ~52
    bounded jobs instead of one giant plan (lineage, shuffle sizing, and
    retry blast-radius all stay per-group).  Returns
    {requested, already_present, processed, groups}.
    """
    have = set()
    if store.exists():
        have = {
            d.split("=", 1)[1]
            for d in fs.list_child_names(store.spark, store._root())
            if d.startswith("date=")
        }
    missing = sorted(set(source_dates) - have)
    groups = [
        missing[i : i + batch_days] for i in range(0, len(missing), batch_days)
    ]
    for g in groups:
        store.store(build_batch(g), mode="upsert")
    return {
        "requested": len(source_dates),
        "already_present": len(set(source_dates) & have),
        "processed": len(missing),
        "groups": len(groups),
    }
