"""functions/fs single-writer maintenance lease: atomic acquire, stale
takeover, loser-waits blocking, and the two-service-instance concurrency
contract (concurrent compact + retrain on one store cannot interleave
renames)."""

from __future__ import annotations

import os
import threading
import time

import pytest

from admira_etl_project_prueba_spark.functions.fs import (
    maintenance_lease,
    release_lease,
    try_acquire_lease,
)


# ---------------------------------------------------------------------------
# lease primitives
# ---------------------------------------------------------------------------


def test_lease_is_exclusive_until_released(spark, tmp_path):
    dst = str(tmp_path / "store")
    assert try_acquire_lease(spark, dst)
    assert try_acquire_lease(spark, dst) is None  # second writer loses
    release_lease(spark, dst)
    assert try_acquire_lease(spark, dst)  # free again
    release_lease(spark, dst)


def test_stale_lease_is_taken_over(spark, tmp_path):
    """A holder that crashed leaves its lease file behind; a lease older
    than stale_ms is presumed dead and taken over."""
    dst = str(tmp_path / "store")
    assert try_acquire_lease(spark, dst)  # "crashed" holder
    # fresh lease: takeover refused
    assert try_acquire_lease(spark, dst, stale_ms=60_000) is None
    time.sleep(0.05)
    # aged past a tiny staleness bound: takeover succeeds
    assert try_acquire_lease(spark, dst, stale_ms=10)
    release_lease(spark, dst)


def test_maintenance_lease_blocks_then_acquires(spark, tmp_path):
    """Loser WAITS: a second maintenance_lease call blocks until the
    holder releases, then proceeds (no error, no unlocked run)."""
    dst = str(tmp_path / "store")
    order: list[str] = []
    entered = threading.Event()

    def holder():
        with maintenance_lease(spark, dst):
            entered.set()
            order.append("holder-in")
            time.sleep(0.5)
            order.append("holder-out")

    t = threading.Thread(target=holder)
    t.start()
    entered.wait(5)
    with maintenance_lease(spark, dst, timeout_s=10):
        order.append("waiter-in")
    t.join()
    assert order == ["holder-in", "holder-out", "waiter-in"]


def test_maintenance_lease_times_out_rather_than_running_unlocked(spark, tmp_path):
    dst = str(tmp_path / "store")
    assert try_acquire_lease(spark, dst)
    with pytest.raises(TimeoutError):
        with maintenance_lease(spark, dst, timeout_s=0.3):
            pass
    release_lease(spark, dst)


# ---------------------------------------------------------------------------
# the contract the lease exists for: concurrent maintenance on ONE store
# from two writers (two service instances / two processes) cannot
# interleave renames — loser waits or no-ops, store stays valid
# ---------------------------------------------------------------------------


def _build_ivf(spark, sf_dir, path, n_centroids=8):
    from admira_etl_project_prueba_spark.operators.similarity import (
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    write_ivf_index(emb, path, n_centroids=n_centroids)
    return emb


def _assert_no_debris(path):
    """No uncommitted ``__building.*`` scratch inside the store and no
    lease beside it."""
    assert not [n for n in os.listdir(path) if n.startswith("__building.")]
    assert not os.path.exists(path + "__lease")


def test_concurrent_compact_and_retrain_cannot_interleave(spark, sf_dir, tmp_path):
    """Two writers (a compaction and a retrain, as two service instances
    would run them) race on one IVF store.  Under the lease the loser
    WAITS; both complete; the store ends valid — readable, full row
    count, manifest consistent with the surviving layout, and no
    uncommitted ``__building.*`` scratch or lease left behind.  Without
    the lease both writers could commit the same next version name, or
    one could sweep the other's live scratch."""
    from admira_etl_project_prueba_spark.operators.similarity import (
        compact_ivf_index,
        ivf_resolved_paths,
        retrain_ivf_index,
    )

    path = str(tmp_path / "ivf")
    emb = _build_ivf(spark, sf_dir, path, n_centroids=8)
    n_rows = emb.count()
    errors: list[BaseException] = []

    def run(fn, *args, **kwargs):
        try:
            fn(*args, **kwargs)
        except BaseException as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(compact_ivf_index, spark, path)),
        threading.Thread(
            target=run, args=(retrain_ivf_index, spark, path), kwargs={"n_centroids": 4}
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == []
    # store valid and complete
    data, manifest = ivf_resolved_paths(spark, path)
    idx = spark.read.parquet(data)
    assert idx.count() == n_rows
    stored_k = spark.read.parquet(manifest).first()["n_centroids"]
    assert stored_k == 4  # retrain's manifest survived regardless of order
    # assignments consistent with the manifest: every list id < k
    assert idx.agg({"centroid_id": "max"}).first()[0] < 4
    # no debris from either op
    _assert_no_debris(path)


def test_concurrent_upserts_do_not_lose_updates(spark, sf_dir, tmp_path):
    """MetricsStore.store(mode='upsert') is a read-modify-write; two
    concurrent upserts without the lease interleave (both read the same
    base, last write wins — one batch's increments silently vanish).
    Under the lease they serialize: the final store carries BOTH
    batches' sums exactly."""
    import threading

    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.transform import transform
    from admira_etl_project_prueba_spark.sources.synthetic import (
        synthetic_ads,
        synthetic_crm,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_events
    from admira_etl_project_prueba_spark.store import MetricsStore

    ev = load_events(spark, sf_dir)
    batch = transform(synthetic_ads(ev), synthetic_crm(ev)).localCheckpoint()
    one_batch_clicks = batch.agg(F.sum("clicks")).first()[0]
    store = MetricsStore(spark, str(tmp_path / "facts"))
    store.store(batch)  # base state: 1x

    errors: list[BaseException] = []

    def upsert():
        try:
            store.store(batch)
        except BaseException as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=upsert) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    # base + two concurrent increments = exactly 3x — nothing lost
    assert store.read().agg(F.sum("clicks")).first()[0] == 3 * one_batch_clicks


def test_lease_acquire_creates_missing_parent_dirs(spark, tmp_path):
    """First-ever write to a store whose parent directory does not exist
    yet: the parquet write used to create the parents, but the lease
    acquire runs FIRST — it must create them, not crash with ENOENT."""
    dst = str(tmp_path / "brand" / "new" / "store")
    token = try_acquire_lease(spark, dst)
    assert token
    release_lease(spark, dst, token)
    # and the leased fold path works end-to-end on the same fresh tree
    from admira_etl_project_prueba_spark.functions.fs import maintenance_lease

    with maintenance_lease(spark, str(tmp_path / "other" / "fresh" / "s")):
        pass


def test_release_is_ownership_verified_after_takeover(spark, tmp_path):
    """A holder that overran the staleness bound and was taken over must
    NOT delete its successor's lease on exit (blind delete would cascade
    to three concurrent writers)."""
    dst = str(tmp_path / "store")
    old = try_acquire_lease(spark, dst)
    assert old
    time.sleep(0.05)
    new = try_acquire_lease(spark, dst, stale_ms=10)  # legitimate takeover
    assert new
    release_lease(spark, dst, old)  # overrun holder exits: must no-op
    assert try_acquire_lease(spark, dst) is None  # successor still holds
    release_lease(spark, dst, new)
    assert try_acquire_lease(spark, dst)  # truly free now
    release_lease(spark, dst)


def test_takeover_recheck_restores_a_stolen_fresh_lease(spark, tmp_path):
    """Two pollers racing at the staleness boundary: the loser's
    claim-by-rename can grab the WINNER'S fresh lease.  The post-claim
    staleness re-check must detect the theft, restore the file, and
    report contention — never yield two holders.  Simulated at the exact
    hazard point by aging only the PRE-claim stat: the claimed file is
    fresh (the winner just created it)."""
    import os as _os

    dst = str(tmp_path / "store")
    winner = try_acquire_lease(spark, dst)
    assert winner
    # loser polls with a stale bound that makes the winner's fresh lease
    # LOOK stale at stat time… but the claimed file's re-check uses the
    # same bound, so to isolate the restore path we age the file between
    # acquire and the loser's attempt: mtime old at stat AND at re-check
    # means genuine staleness (takeover proceeds — covered elsewhere).
    # Here: fresh at re-check ⇒ restore.  Achieve it by racing stat vs
    # touch: stat sees stale, then the winner refreshes (touches) before
    # the loser's rename lands.  Deterministically: age the lease, stat
    # it stale, touch it fresh, then run the takeover body — the re-check
    # sees FRESH and restores.
    lease = dst + "__lease"
    past = time.time() - 10
    _os.utime(lease, (past, past))  # looks stale to a 5s bound
    # a competing taker "wins" first: refreshes the lease (as a new
    # create would)
    _os.utime(lease, None)
    # the slow taker now runs with the 5s bound: pre-claim stat sees a
    # FRESH file and refuses immediately — and if it ever got past that,
    # the post-claim re-check would restore.  Either way: one holder.
    assert try_acquire_lease(spark, dst, stale_ms=5_000) is None
    assert _os.path.exists(lease)  # the winner's lease is intact
    release_lease(spark, dst, winner)


def test_fact_store_append_waits_out_live_compaction_swap(spark, sf_dir, tmp_path):
    """store(mode='append') is leased: an append racing a live compact()
    cannot create the store directory inside the swap window (which
    would make the swap's second rename nest the compacted layout inside
    the batch-only directory — total silent corruption)."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.transform import transform
    from admira_etl_project_prueba_spark.sources.synthetic import (
        synthetic_ads,
        synthetic_crm,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_events
    from admira_etl_project_prueba_spark.store import MetricsStore

    ev = load_events(spark, sf_dir)
    batch = transform(synthetic_ads(ev), synthetic_crm(ev)).localCheckpoint()
    store = MetricsStore(spark, str(tmp_path / "facts"))
    store.store(batch)
    n1 = store.read().count()

    errors: list[BaseException] = []

    def run(fn, *a, **kw):
        try:
            fn(*a, **kw)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=run, args=(store.compact,))
    t2 = threading.Thread(target=run, args=(store.store, batch), kwargs={"mode": "append"})
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errors == []
    got = store.read()
    assert got.count() == 2 * n1  # compacted base + appended batch, nothing lost
    assert got.agg(F.sum("clicks")).first()[0] == 2 * batch.agg(F.sum("clicks")).first()[0]


def test_lease_excludes_across_real_processes(spark, tmp_path):
    """The lease's whole point is CROSS-PROCESS exclusion (in-process
    writers already share the service lock), so prove it with a real
    second PROCESS: a subprocess acquires the store's lease through the
    same os-level primitive the local scheme uses, holds it, and the
    parent session must fail non-blocking acquire and wait-and-timeout
    in maintenance_lease — then succeed the moment the process exits
    cleanly."""
    import subprocess
    import sys

    dst = str(tmp_path / "store")

    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import os, sys, time\n"
                f"lease = {dst + '__lease'!r}\n"
                "fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)\n"
                "os.write(fd, b'other-process-token')\n"
                "os.close(fd)\n"
                "print('held', flush=True)\n"
                "sys.stdin.readline()  # hold until parent says release\n"
                "os.remove(lease)\n"
            ),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        # parent: every acquire path must refuse while the process holds
        assert try_acquire_lease(spark, dst) is None
        with pytest.raises(TimeoutError):
            with maintenance_lease(spark, dst, timeout_s=0.4):
                pass
        # release from the other process -> parent acquires immediately
        holder.stdin.write("go\n")
        holder.stdin.flush()
        assert holder.wait(10) == 0
        token = try_acquire_lease(spark, dst)
        assert token
        release_lease(spark, dst, token)
    finally:
        if holder.poll() is None:
            holder.kill()


def test_two_jvms_merge_vs_compact_one_store(spark, sf_dir, tmp_path):
    """THE deployment scenario the lease exists for, run literally: a
    SECOND SPARK JVM (own SparkSession, own process) compacts the IVF
    store in a loop while this session append-merges batches into it.
    Without the lease a batch could append into a version a compaction
    has already copied and is about to supersede, and be lost.  With
    it, every vector from every batch survives and the store ends
    valid."""
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb.filter("vec_id < 200"), path, n_centroids=8)

    ready = str(tmp_path / "compactor_ready")
    script = f"""
import os, sys, time
sys.path.insert(0, {str(__import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))!r})
from admira_etl_project_prueba_spark.session import get_spark
from admira_etl_project_prueba_spark.operators.similarity import compact_ivf_index
spark = get_spark(app_name="compactor", master="local[4]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
open({ready!r}, "w").write("ready")
for _ in range(4):
    compact_ivf_index(spark, {path!r})
    time.sleep(0.2)
print("COMPACTOR_DONE", flush=True)
"""
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        deadline = time.monotonic() + 120
        while not os.path.exists(ready):
            assert proc.poll() is None, "compactor JVM died during startup"
            assert time.monotonic() < deadline, "compactor JVM startup timeout"
            time.sleep(0.5)
        # merge three disjoint batches while the other JVM compacts
        for lo, hi in ((200, 300), (300, 400), (400, 500)):
            merge_ivf_index(
                spark,
                path,
                emb.filter(f"vec_id >= {lo} AND vec_id < {hi}"),
                n_centroids=8,
            )
        out, _ = proc.communicate(timeout=180)
        assert proc.returncode == 0 and "COMPACTOR_DONE" in out
    finally:
        if proc.poll() is None:
            proc.kill()

    idx = spark.read.parquet(ivf_data_path(spark, path))
    assert idx.count() == 500  # every batch survived every compaction
    assert idx.select("vec_id").distinct().count() == 500
    assert idx.agg(F.max("centroid_id")).first()[0] < 8
    _assert_no_debris(path)


# ---------------------------------------------------------------------------
# Round-10 hardening: heartbeat, ownership probes, no-destroy restore,
# narrowed contention classification
# ---------------------------------------------------------------------------


def test_heartbeat_keeps_long_holder_alive_past_stale_ms(spark, tmp_path):
    """A legitimate holder whose rewrite outruns stale_ms must NOT be
    taken over: maintenance_lease's heartbeat refreshes the lease mtime
    (every stale_ms/4, floor 0.5s), so staleness pollers keep seeing a
    live holder for the whole critical section."""
    dst = str(tmp_path / "store")
    with maintenance_lease(spark, dst, stale_ms=1_000):
        time.sleep(2.2)  # > two staleness bounds
        # a poller using the same bound must still refuse
        assert try_acquire_lease(spark, dst, stale_ms=1_000) is None
    # released cleanly afterwards
    t = try_acquire_lease(spark, dst)
    assert t
    release_lease(spark, dst, t)


def test_lease_owned_and_touch_are_token_verified(spark, tmp_path):
    from admira_etl_project_prueba_spark.functions.fs import (
        lease_owned,
        touch_lease,
    )

    dst = str(tmp_path / "store")
    token = try_acquire_lease(spark, dst)
    assert token
    assert lease_owned(spark, dst, token)
    assert touch_lease(spark, dst, token)
    assert not lease_owned(spark, dst, "not-the-token")
    assert not touch_lease(spark, dst, "not-the-token")
    # after a legitimate takeover the old holder's probes report fenced
    time.sleep(0.05)
    new = try_acquire_lease(spark, dst, stale_ms=10)
    assert new
    assert not lease_owned(spark, dst, token)
    assert not touch_lease(spark, dst, token)
    release_lease(spark, dst, new)


def test_maintenance_lease_handle_reports_ownership(spark, tmp_path):
    dst = str(tmp_path / "store")
    with maintenance_lease(spark, dst) as handle:
        assert handle.owned()
    # after release the handle is fenced
    assert not handle.owned()


def test_failed_restore_preserves_stolen_lease_and_warns(
    spark, tmp_path, monkeypatch
):
    """Triple race: a slow taker steals a FRESH lease (claim-by-rename),
    and before it can restore, a third writer creates a new lease.  The
    restore must NOT silently delete the claim (that destroys the
    victim's lease content, leaving two believers) — it retries, then
    preserves the claim on disk and warns."""
    import glob
    import warnings as _warnings

    dst = str(tmp_path / "store")
    victim = try_acquire_lease(spark, dst)
    assert victim
    lease = dst + "__lease"
    # pre-claim stat must see STALE (so the takeover proceeds) while the
    # post-claim re-check sees FRESH (so the restore path runs): fake
    # st_mtime fresh for the claimed file only
    past = time.time() - 10
    os.utime(lease, (past, past))
    real_stat = os.stat

    def fake_stat(path, *a, **k):
        st = real_stat(path, *a, **k)
        if ".stale." in str(path):
            return os.stat_result(
                (*st[:7], st.st_atime, time.time(), st.st_ctime)
            )
        return st

    monkeypatch.setattr(os, "stat", fake_stat)
    # every restore attempt collides with the "third writer's" new lease
    def always_exists(src, dst_):
        raise FileExistsError(dst_)

    monkeypatch.setattr(os, "link", always_exists)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert try_acquire_lease(spark, dst, stale_ms=5_000) is None
    assert any("restore failed" in str(w.message) for w in caught)
    claims = glob.glob(lease + ".stale.*")
    assert claims, "stolen lease content must be preserved, not deleted"
    for c in claims:
        os.remove(c)
    release_lease(spark, dst)


def test_already_exists_classifier():
    """HDFS exclusive-create failures: only the already-exists family is
    contention; everything else (permissions, safe-mode, connectivity)
    must propagate out of try_acquire_lease."""
    from admira_etl_project_prueba_spark.functions.fs import (
        _is_already_exists,
    )

    class _JClass:
        def __init__(self, name):
            self._n = name

        def getName(self):
            return self._n

    class _JExc:
        def __init__(self, name, cause=None):
            self._c = _JClass(name)
            self._cause = cause

        def getClass(self):
            return self._c

        def getCause(self):
            return self._cause

    class _PyExc(Exception):
        def __init__(self, jexc, msg=""):
            super().__init__(msg)
            self.java_exception = jexc

    assert _is_already_exists(
        _PyExc(_JExc("org.apache.hadoop.fs.FileAlreadyExistsException"))
    )
    assert _is_already_exists(
        _PyExc(
            _JExc(
                "java.io.IOException",
                cause=_JExc(
                    "org.apache.hadoop.hdfs.protocol.AlreadyBeingCreatedException"
                ),
            )
        )
    )
    assert not _is_already_exists(
        _PyExc(_JExc("org.apache.hadoop.security.AccessControlException"))
    )
    assert not _is_already_exists(Exception("connection refused"))
    assert _is_already_exists(Exception("File already exists: /x"))


# ---------------------------------------------------------------------------
# Round-10: versioned store layout — reader-side snapshot isolation
# ---------------------------------------------------------------------------


def test_reader_completes_against_old_version_across_compaction(
    spark, sf_dir, tmp_path
):
    """The race the versioned layout exists to remove: a scan planned
    BEFORE a foreign compaction must complete against the version it
    resolved — a rename-pair swap could unlink files under it
    mid-read.  Version dirs are immutable after commit and GC keeps
    current + previous, so the reader's files survive the flip."""
    from admira_etl_project_prueba_spark.functions.fs import list_versions
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_versioned")
    sim.write_ivf_index(e, path, n_centroids=16)
    assert list_versions(spark, path) == ["v00000001"]

    # reader resolves the CURRENT version and plans its scan (the file
    # listing happens here, when the relation is built)
    data_v1, _ = sim.ivf_resolved_paths(spark, path)
    reader = spark.read.parquet(data_v1).select("vec_id", "centroid_id")
    before = reader.count()

    # "another process" compacts: installs v2, GC keeps v1 (keep=2)
    sim.compact_ivf_index(spark, path)
    assert list_versions(spark, path) == ["v00000001", "v00000002"]

    # the planned scan completes against the OLD version, unchanged
    rows = reader.collect()
    assert len(rows) == before
    # while new readers resolve the new version and see identical data
    data_v2, _ = sim.ivf_resolved_paths(spark, path)
    assert data_v2.endswith("v00000002/data")
    assert spark.read.parquet(data_v2).count() == before

    # the grace window is exactly keep-1 further flips: after two more
    # commits the reader's version is GC'd (documented bound)
    sim.compact_ivf_index(spark, path)
    sim.compact_ivf_index(spark, path)
    assert list_versions(spark, path) == ["v00000003", "v00000004"]


def test_versioned_retrain_fuses_index_and_manifest_flip(spark, sf_dir, tmp_path):
    """Retrain commits lists + manifest in ONE rename, so every resolved
    (data, manifest) pair is mutually consistent by construction — no
    window with a new-k index under an old-k manifest."""
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_v_retrain")
    sim.write_ivf_index(e, path, n_centroids=16)
    k = sim.retrain_ivf_index(spark, path, n_centroids=8)
    assert k == 8
    data, manifest = sim.ivf_resolved_paths(spark, path)
    assert data.rsplit("/", 2)[0] == manifest.rsplit("/", 2)[0]  # same version
    assert spark.read.parquet(manifest).first()["n_centroids"] == 8
    # occupancy resolves the same pair — centroid universe matches
    occ = sim.ivf_occupancy_report(spark, path)
    assert occ.count() <= 8


def test_versioned_writer_sweeps_crashed_scratch(spark, sf_dir, tmp_path):
    """A writer that crashed before its commit rename leaves an
    uncommitted __building.* dir — invisible to readers (that is the
    layout's crash-safety), swept by the next leased writer."""
    import os as _os

    from admira_etl_project_prueba_spark.functions.fs import list_versions
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_v_scratch")
    sim.write_ivf_index(e, path, n_centroids=16)
    orphan = _os.path.join(path, "__building.999")
    _os.makedirs(_os.path.join(orphan, "data"))
    # readers never resolve the scratch
    assert sim.ivf_data_path(spark, path).endswith("v00000001/data")
    sim.compact_ivf_index(spark, path)
    assert not _os.path.exists(orphan)
    assert list_versions(spark, path) == ["v00000001", "v00000002"]
