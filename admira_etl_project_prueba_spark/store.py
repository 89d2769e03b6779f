"""Fact store — date-partitioned Parquet with idempotent upsert-by-key (S5).

Reference parity: ``MemoryStorage.StoreMetrics`` —
/root/reference/internal/storage/memory.go:20-26 — blindly APPENDS each
batch, so re-running `/ingest/run` duplicates every stored row even though
the docs claim idempotency (README.md:350-354, SYSTEM_DESIGN.md:5-16).

Engine decision (SURVEY.md §7 decision 4): the default mode makes the
documented claim true — ``upsert`` merges the incoming batch with existing
facts per MetricKey (re-summing measures, re-deriving ratios).  ``append``
mode replicates raw reference behavior.

Every write commits the next immutable ``path/vNNNNNNNN`` version
(``functions/fs.commit_version``) holding the FULL payload: the stored
rows of the days the batch does not touch, carried forward, plus the
days it does.  A reader resolves the newest version once at scan start,
so it never sees a half-written store — the guarantee the reference
gets from its ``sync.RWMutex`` (memory.go:10,21-30).

Scale design:
* Partitioned by ``date`` inside each version — F5 exact-day reads and
  F3/F4 ranges prune statically; a 100 TB fact table becomes per-day
  directories.
* Each write re-writes the whole payload: the price of snapshot reads,
  paid once per ingest cycle.
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

#: the stream-fold ledger's columns, and the superset its reader declares:
#: legacy ledgers hold only ``key`` (one ``stream_id:batch_id`` per row)
_LEDGER_COLS = "stream_id string, hwm long, tail array<long>"
_LEDGER_SCHEMA = _LEDGER_COLS + ", key string"


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

    Every write — upsert, append, replace, compact, stream fold —
    commits the FULL payload as the next immutable ``vNNNNNNNN``
    (``functions/fs.commit_version``).  The untouched date partitions
    are re-read from the current version and re-written through Spark
    together with the changed days (``_upsert_frames`` builds that
    frame, ``_commit_full`` writes it to ``__building.*`` scratch), then
    one rename commits it.  Readers resolve the newest version once at
    scan start, so a report mid-read never loses partitions to a
    concurrent upsert.

    A root holding ``date=*`` directly (the layout before versions
    existed) is refused by every read and write with a ``ValueError``
    naming the migration: move its children into ``path/v00000001``.

    ``versioned`` accepts only ``True``: it remains so existing
    ``MetricsStore(..., versioned=True)`` calls keep working."""

    def __init__(self, spark: SparkSession, path: str, versioned: bool = True):
        if not versioned:
            raise ValueError(
                "MetricsStore has one layout: every write commits a "
                "version (versioned=False is not supported)"
            )
        self.spark = spark
        self.path = path

    def _root(self) -> str:
        """Current payload dir: the newest committed version, or ``path``
        when nothing is committed yet (resolved per call — a reader pins
        its snapshot by resolving once at scan start, as ``read`` does).
        A flat root from the old layout raises ``ValueError``
        (``fs.resolve_store_root``)."""
        return fs.resolve_store_root(self.spark, self.path)

    # -- read ---------------------------------------------------------------
    def exists(self) -> bool:
        """True iff the store has been written.

        Goes through the session's Hadoop FS (functions/fs), NOT
        ``os.path`` — on an HDFS/S3A URI the local-FS form silently
        returns False for a populated store, so every read path would
        treat real facts as "nothing stored yet"."""
        return fs.dir_nonempty(self.spark, self._root())

    def read(self) -> DataFrame:
        """All stored facts; empty frame when nothing stored yet.
        The newest snapshot is resolved once here — the
        whole downstream plan reads that version even if a writer
        commits mid-scan.  The scan takes the declared fact schema, so no
        Spark job runs here to infer it from parquet footers."""
        return self._read(self._root())

    def _read(self, root: str) -> DataFrame:
        """:meth:`read` of the payload dir ``root``, resolved by the
        caller — a writer resolves once under its lease and reads,
        carries the ledger forward and commits against that one root."""
        if not fs.dir_nonempty(self.spark, root):
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        df = self.spark.read.schema(METRICS_SCHEMA).parquet(root)
        # the partition column lands last; restore the fact column order
        return df.select(*METRICS_SCHEMA.fieldNames())

    # -- write plumbing ------------------------------------------------------
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
        folded iff ``b <= hwm or b in tail``.  Empty for never-folded
        stores.  Legacy ledgers (one ``key`` row per
        ``stream_id:batch_id``) are parsed and compacted on read.  The
        scan declares the superset of both formats' columns, so the
        collect is the only Spark job."""
        return self._ledger(self._root())

    def _ledger(self, root: str) -> dict[str, tuple[int, frozenset[int]]]:
        """:meth:`stream_fold_ledger` of the payload dir ``root``."""
        p = f"{root}/{self._LEDGER}"
        if not fs.dir_nonempty(self.spark, p):
            return {}
        folded: dict[str, tuple[int, set[int]]] = {}
        for r in self.spark.read.schema(_LEDGER_SCHEMA).parquet(p).collect():
            if r["key"] is not None:  # legacy: one row per folded batch
                sid, _, b = str(r["key"]).rpartition(":")
                hwm, ids = -1, {int(b)}
            else:
                sid, hwm = str(r["stream_id"]), int(r["hwm"])
                ids = {int(b) for b in (r["tail"] or [])}
            prev_hwm, prev_ids = folded.get(sid, (-1, set()))
            folded[sid] = (max(prev_hwm, hwm), prev_ids | ids)
        return self._compact_ledger(folded)

    def _commit_full(
        self,
        full: DataFrame,
        root: str,
        ledger: dict[str, tuple[int, frozenset[int]]] | None = None,
    ) -> None:
        """Write ``full`` (the COMPLETE next payload) as the next
        immutable version.  Caller holds the store lease and resolved
        the current payload dir ``root`` under it.

        The stream-fold ledger rides along: ``ledger`` (when given)
        replaces it, otherwise the current version's ledger is carried
        FORWARD — a plain upsert/replace/compact between two folds must
        not lose the folded-batch memory, or a fold replay would double
        the already-folded increments."""
        if ledger is None:
            ledger = self._ledger(root)
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
                    _LEDGER_COLS,
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{tmp}/{self._LEDGER}")
            )
        fs.commit_version(self.spark, self.path, tmp)

    def _stored_days(self, batch: DataFrame, root: str):
        """``(touched, untouched)``: the stored rows of payload dir
        ``root`` on the days ``batch`` holds, and on every other day —
        ``(None, None)`` when nothing is stored.  Caller HOLDS the store
        lease."""
        if not fs.dir_nonempty(self.spark, root):
            return None, None
        existing = self._read(root)
        days = F.broadcast(batch.select("date").distinct())
        return (
            existing.join(days, "date", "left_semi"),
            existing.join(days, "date", "left_anti"),
        )

    # -- write --------------------------------------------------------------
    def store(self, batch: DataFrame, mode: str = "upsert") -> None:
        """Persist a consolidated batch as the next version.

        * ``upsert`` (default): merge with existing rows per MetricKey,
          re-sum measures, re-derive ratios; the untouched days carry
          forward unchanged.
        * ``append``: raw reference behavior (memory.go:24) — duplicates on
          re-ingest, kept for byte-level compat experiments.

        Both are read-modify-writes of the whole payload, so the WHOLE
        cycle holds the store's single-writer lease: two concurrent
        upserts would otherwise both read the same version, and one
        batch's increments would be silently lost.
        """
        if mode not in ("upsert", "append"):
            raise ValueError(f"unknown store mode: {mode}")
        with fs.maintenance_lease(self.spark, self.path):
            root = self._root()
            if mode == "append":
                existing = self._read(root)
                full = existing.unionByName(
                    _rebalanced(batch).select(existing.columns)
                )
            else:
                full = self._upsert_frames(batch, root)
            self._commit_full(full, root)

    def _upsert_frames(self, batch: DataFrame, root: str) -> DataFrame:
        """The full next payload for an upsert of ``batch`` into payload
        dir ``root``: the batch's days re-summed with the stored rows for
        those days, plus the untouched days.  Caller HOLDS the store
        lease."""
        touched, untouched = self._stored_days(batch, root)
        if touched is None:
            return _rebalanced(batch)
        # Only days present in the batch can change; the merge input is
        # restricted to them, so the shuffle is sized by the batch, not
        # the table.
        both = touched.select(batch.columns).unionByName(batch)
        resummed = both.groupBy(*METRIC_KEY_COLS).agg(*_resum_aggs())
        merged = with_derived_metrics(resummed).select(batch.columns)
        return untouched.select(merged.columns).unionByName(merged)

    def fold_stream_log(self, log_path: str) -> int:
        """Exactly-once drain of a :func:`streaming.ingest.
        stream_metrics_ingest` batch log into the store — the leased
        maintenance fold that gives `/ingest/run` its streaming twin
        (S1→A1→F1→S5 landing in the fact store).

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

        Cleanup deletes only the batch partitions this fold saw; all of
        them are in the ledger by then.
        The stream writer holds no lease (by design — ingest must never
        contend with maintenance), so a replayed micro-batch's dynamic
        partition overwrite can delete a pinned file mid-scan; the fold
        RETRIES with a fresh pin (content is deterministic and the
        ledger skips already-committed batches, so the retry is safe)
        instead of failing.  Returns the number of batches folded."""
        if not fs.path_exists(self.spark, log_path):
            return 0
        with fs.maintenance_lease(self.spark, self.path):
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
        root = self._root()
        ledger = self._ledger(root)

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
            full = self._upsert_frames(batch, root)
            nxt = {s: (hwm, set(tail)) for s, (hwm, tail) in ledger.items()}
            for s, b in todo:
                nxt.setdefault(s, (-1, set()))[1].add(b)
            self._commit_full(full, root, ledger=self._compact_ledger(nxt))
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
        the rewrite emits one file per day, committed as the next
        version like every other write.  Held under the store's
        single-writer maintenance lease, same as the index compactions.
        Returns (files_before, files_after).
        """
        with fs.maintenance_lease(self.spark, self.path):
            root = self._root()
            if not fs.dir_nonempty(self.spark, root):
                return (0, 0)
            before = fs.count_files(self.spark, root)
            self._commit_full(self._read(root).repartition("date"), root)
            return (before, fs.count_files(self.spark, self._root()))

    def store_idempotent_replace(self, batch: DataFrame) -> None:
        """Replace-by-day: incoming batch is the new truth for its days.

        The right mode when re-ingesting a corrected full day from sources
        (vs. `upsert`, which treats the batch as an increment).
        """
        with fs.maintenance_lease(self.spark, self.path):
            root = self._root()
            _, untouched = self._stored_days(batch, root)
            full = batch
            if untouched is not None:
                full = untouched.select(batch.columns).unionByName(batch)
            self._commit_full(full, root)


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
