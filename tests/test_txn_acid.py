"""Optimistic-concurrency commit protocol (sources/txn.py): the ACID
discipline Delta's manifest log gives, proven over plain parquet —
two-writer lost-update prevention, deterministic conflict interleave,
time travel, and vacuum. VERDICT r7 item 3 / r8 item 2."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from cyrela_etl_spark.sources.txn import (
    TxnConflictError,
    latest_version,
    read_manifest,
    txn_commit,
    txn_delete_rows,
    txn_init,
    txn_read,
    txn_upsert,
    vacuum,
)
from cyrela_etl_spark.sources.zones import ZoneStore


@pytest.fixture()
def store(spark, tmp_path):
    return ZoneStore(spark=spark, root=str(tmp_path))


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _accounts(spark, pairs):
    return spark.createDataFrame(pairs, "account_id INT, balance INT")


def test_init_read_roundtrip_and_versions(spark, store):
    v = txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100), (2, 200)]))
    assert v == 1 and latest_version(store, "curated", "accounts") == 1
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}
    m = read_manifest(store, "curated", "accounts", 1)
    assert m["op"] == "create" and m["parent"] == 0


def test_stale_writer_cannot_publish_over_unseen_version(spark, store):
    """The deterministic two-writer interleave: A and B both read v1; B
    commits v2 first; A's commit AT ITS READ VERSION must fail loudly
    instead of silently erasing B's write (the lost update a commit with
    no conflict witness allows)."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100), (2, 200)]))

    # both writers snapshot the same version
    v_a = latest_version(store, "curated", "accounts")
    v_b = latest_version(store, "curated", "accounts")
    a_df = _accounts(spark, [(1, 111), (2, 200)])  # A updates account 1
    b_df = _accounts(spark, [(1, 100), (2, 222)])  # B updates account 2

    assert txn_commit(store, "curated", "accounts", b_df, read_version=v_b) == 2
    with pytest.raises(TxnConflictError):
        txn_commit(store, "curated", "accounts", a_df, read_version=v_a)

    # B's write survived; A's conflicting snapshot was not published
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 222)}

    # A retries correctly: re-read, re-derive, commit at the new version
    cur = txn_read(store, "curated", "accounts")
    merged = cur.withColumn(
        "balance", F.when(F.col("account_id") == 1, 111).otherwise(F.col("balance"))
    )
    assert txn_commit(store, "curated", "accounts", merged, read_version=2) == 3
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 111), (2, 222)}


def test_txn_upsert_retry_merges_both_writers(spark, store):
    """txn_upsert's retry loop is the lost-update-free MERGE: interleaved
    upserts to different keys both land, whatever the commit order."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100), (2, 200)]))
    txn_upsert(store, "curated", "accounts", _accounts(spark, [(3, 300)]), "account_id")
    txn_upsert(store, "curated", "accounts", _accounts(spark, [(2, 250)]), "account_id")
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 250), (3, 300)}
    assert latest_version(store, "curated", "accounts") == 3


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_two_threads_racing_upserts_all_land(spark, store):
    """A REAL race: two driver threads each upsert 4 distinct keys into
    the same table simultaneously. The put-if-absent publish serializes
    them; every key must be present at the end — no lost updates, no
    duplicated versions."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(0, 0)]))
    barrier = threading.Barrier(2)
    errors = []

    def writer(base: int):
        try:
            barrier.wait(timeout=30)
            for k in range(base, base + 4):
                txn_upsert(
                    store, "curated", "accounts",
                    _accounts(spark, [(k, k * 10)]), "account_id",
                )
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    got = _rows(txn_read(store, "curated", "accounts"))
    expect = {(0, 0)} | {(k, k * 10) for b in (100, 200) for k in range(b, b + 4)}
    assert got == expect
    # 1 init + 8 upserts = 9 committed versions, each a distinct manifest
    assert latest_version(store, "curated", "accounts") == 9


def test_delete_rows_and_time_travel_and_vacuum(spark, store):
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100), (2, 200), (3, 300)]))
    txn_delete_rows(
        store, "curated", "accounts",
        spark.createDataFrame([(2,)], "account_id INT"), "account_id",
    )
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (3, 300)}
    # time travel: version 1 still shows the deleted row
    assert (2, 200) in _rows(txn_read(store, "curated", "accounts", version=1))
    # vacuum drops version 1's snapshot + manifest, keeps the latest
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == [1]
    assert latest_version(store, "curated", "accounts") == 2
    with pytest.raises(Exception):
        txn_read(store, "curated", "accounts", version=1)
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (3, 300)}


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_crash_debris_does_not_corrupt_the_log(spark, store):
    """Crash artifacts a real deployment will leave behind: a _tmp
    manifest from a writer that died mid-publish, and an orphan snapshot
    directory from a writer that died before publishing. Neither may
    affect version resolution or reads."""
    from cyrela_etl_spark.sources.txn import _txn_dir, _write_bytes

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_upsert(store, "curated", "accounts", _accounts(spark, [(2, 200)]), "account_id")

    # debris 1: a temp manifest that never got renamed
    tdir = _txn_dir(store, "curated", "accounts")
    _write_bytes(store, f"{tdir}/_tmp-deadbeef.json", b'{"version": 99}')
    # debris 2: an orphan snapshot dir with plausible data
    _accounts(spark, [(9, 900)]).write.parquet(
        store.path("curated", "accounts/_snapshots/v00000000000000000099-dead")
    )

    assert latest_version(store, "curated", "accounts") == 2
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}
    # and the log still advances cleanly past the debris
    assert txn_upsert(
        store, "curated", "accounts", _accounts(spark, [(3, 300)]), "account_id"
    ) == 3


def test_losing_writer_cleans_its_orphan_snapshot(spark, store):
    """A stale commit is refused by the pre-check before it writes any
    data: TxnConflictError is raised and only the two published snapshots
    exist afterwards. (The cleanup of a snapshot written and then lost at
    publish is covered by the publish-loss tests below.)"""
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = latest_version(store, "curated", "accounts")
    # another writer wins version 2 first
    txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 111)]), read_version=v)
    with pytest.raises(TxnConflictError):
        txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 222)]), read_version=v)
    snaps_dir = store.path("curated", "accounts/_snapshots")
    names = [
        s.getPath().getName()
        for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir))
    ]
    # exactly the two PUBLISHED snapshots remain (v1 + the winner's v2)
    assert len(names) == 2
    assert all(n.startswith(("v00000000000000000001", "v00000000000000000002")) for n in names)


def test_publish_loss_cleans_orphan_snapshot_deterministically(spark, store, monkeypatch):
    """The rename-loses branch (_publish returns False -> delete own
    snapshot -> raise) is only reachable probabilistically through the
    thread race, because the fresh-view pre-check conflicts a stale
    writer before it writes anything. Here the pre-check is blinded, so
    the writer REALLY writes its snapshot and REALLY loses the publish —
    the cleanup path runs deterministically."""
    import cyrela_etl_spark.sources.txn as txn

    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    # a competing writer takes version 2 for real
    txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 111)]), read_version=1)
    # the stale writer's pre-check is blinded: it believes version 1 is the head
    monkeypatch.setattr(txn, "_fresh_view_check", lambda *a, **k: None)
    with pytest.raises(TxnConflictError):
        txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 222)]), read_version=1)
    monkeypatch.undo()
    # the loser wrote a v2 snapshot and must have removed it again
    snaps_dir = store.path("curated", "accounts/_snapshots")
    names = [
        s.getPath().getName()
        for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir))
    ]
    assert len(names) == 2  # v1 + the winner's v2 only
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 111)}


def test_upsert_rejects_duplicate_merge_keys(spark, store):
    """A batch carrying the same key twice has no defined merge outcome;
    it must be rejected before any version is consumed (ADVICE r9)."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    with pytest.raises(ValueError, match="key-unique"):
        txn_upsert(
            store, "curated", "accounts",
            _accounts(spark, [(2, 200), (2, 201)]), "account_id",
        )
    # nothing committed, log did not advance
    assert latest_version(store, "curated", "accounts") == 1
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100)}


@pytest.mark.parametrize(
    "query, prefix",
    [
        ("storage_forget_user", "zone_forget_"),
        ("storage_table_roundtrip", "zone_tbl_"),
        ("storage_zone_promote", "zones_rt_"),
        ("storage_txn_acid", "txn_acid_q_"),
    ],
    ids=[
        "storage_forget_user",
        "storage_table_roundtrip",
        "storage_zone_promote",
        "storage_txn_acid",
    ],
)
def test_storage_query_leaves_session_catalog_unchanged(spark, sf_dir, query, prefix):
    """The registry's ZoneStore-backed storage queries keep their tables
    in a temp root: the session catalog gains no table (a catalog-bound
    table would outlive the temp dir it points at) and the root is
    removed."""
    import glob
    import os
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from cyrela_etl_spark.queries import storageq

    # drop what a catalog-bound run could have left, so a re-registration shows
    spark.sql("DROP TABLE IF EXISTS zone_events")
    spark.sql("DROP TABLE IF EXISTS zone_supplier")
    tables = {t.name for t in spark.catalog.listTables()}
    roots = os.path.join(tempfile.gettempdir(), f"{prefix}*")
    before = set(glob.glob(roots))
    n_rows, _ = bench.fingerprint(getattr(storageq, query)(spark, sf_dir))
    assert n_rows > 0
    assert {t.name for t in spark.catalog.listTables()} == tables
    assert set(glob.glob(roots)) <= before


def test_time_travel_of_vacuumed_version_fails_cleanly(spark, store):
    """VERDICT r9 item 4: reading a vacuumed version must raise a clean
    FileNotFoundError naming the cause — not a py4j Java stack — and must
    not launch a Spark job."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 101)]), read_version=1)
    txn_commit(store, "curated", "accounts", _accounts(spark, [(1, 102)]), read_version=2)
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == [1, 2]
    with pytest.raises(FileNotFoundError, match="removed by vacuum|no manifest"):
        txn_read(store, "curated", "accounts", version=1)
    # latest unaffected
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 102)}


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_vacuum_under_concurrent_writer_never_removes_winnable_version(spark, store):
    """VERDICT r9 item 4: eager vacuum(keep_last=2) racing a committing writer.
    Safety statement: vacuum only ever removes versions <= latest-2 AT ITS
    LIST TIME, and versions only grow — so the latest and latest-1 any
    reader or retrying writer can land on are never removed. Asserted by
    interleaving vacuums with live commits and reading the top-2 versions
    after every sweep."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(0, 0)]))
    stop = threading.Event()
    errors = []

    def writer():
        try:
            for k in range(1, 7):
                txn_upsert(
                    store, "curated", "accounts",
                    _accounts(spark, [(k, k)]), "account_id",
                )
        except Exception as e:
            errors.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=writer)
    t.start()
    removed_log: list[tuple[int, list[int]]] = []
    while not stop.is_set():
        removed = vacuum(store, "curated", "accounts", keep_last=2, min_age_sec=0)
        # versions only grow, so the post-call latest is >= vacuum's own
        # list-time latest: removed <= list-time latest - 2 <= lv - 2.
        # (Sampling latest BEFORE the call raced the live writer: a commit
        # between the sample and vacuum's internal listing legitimately
        # raises vacuum's keep window past the stale sample — caught as a
        # flake in the round-10 full-suite run.)
        lv = latest_version(store, "curated", "accounts")
        removed_log.append((lv, removed))
        # top-2 at any later point must be readable
        assert txn_read(store, "curated", "accounts", version=lv).count() >= 1
        if lv >= 2:
            assert txn_read(store, "curated", "accounts", version=lv - 1).count() >= 1
    t.join(timeout=300)
    assert not errors, errors
    # every removed version was below the keep window of its own sweep
    for lv_after, removed in removed_log:
        assert all(v <= lv_after - 2 for v in removed)
    # final state intact
    assert _rows(txn_read(store, "curated", "accounts")) == {(k, k) for k in range(0, 7)}


# -- model-based property test ------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OP = st.one_of(
    st.tuples(
        st.just("upsert"),
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 999)),
            min_size=1, max_size=3, unique_by=lambda kv: kv[0],
        ),
    ),
    st.tuples(st.just("delete"), st.lists(st.integers(0, 5), min_size=1, max_size=3)),
    # append: balances only — FRESH keys are assigned at apply time (raw
    # appends do not maintain the keyed invariant, so the model stays a
    # dict by never appending an existing key; that contract is the
    # operator's own documentation)
    st.tuples(st.just("append"), st.lists(st.integers(0, 999), min_size=1, max_size=3)),
    # append with the compaction cadence (r15, VERDICT r14 item 4): same
    # row semantics as append, but the log may advance TWICE (append +
    # auto-compact when the chain exceeds K=2) — the model tracks the
    # chain length to predict exactly when, so the head-version invariant
    # stays exact under arbitrary interleavings with upsert/delete/
    # compact (which reset the chain) and vacuum/orphan (which don't)
    st.tuples(st.just("append_auto"), st.lists(st.integers(0, 999), min_size=1, max_size=3)),
    # maintenance ops (r13: exercise the O(1) fresh-view pre-check and
    # the memoized vacuum delete loop under arbitrary interleavings):
    # compact commits one content-identical version; vacuum removes a
    # version prefix and must leave content AND the log head untouched —
    # in particular, the op AFTER a vacuum commits against a log whose
    # floor has moved, the exact contiguity case _fresh_view_check's
    # correctness argument rests on.
    st.tuples(st.just("compact"), st.none()),
    # eager vacuum is the explicit opt-out spelling since r16 (the
    # DEFAULT is Delta's 7-day retention, VERDICT r15 item 5) — the model
    # keeps exercising both semantics
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
    # age-guarded vacuum (r15, ADVICE r15): min_age_sec=3600 spares every
    # unreferenced-but-fresh data dir (everything in a fast-running model
    # sequence is fresh) while STILL removing below-floor manifests —
    # content, head and version numbering must stay untouched, and any
    # later eager vacuum/orphan interleaving must still behave
    st.tuples(st.just("vacuum_aged"), st.integers(1, 3)),
    # crash debris (r14, exercises the listing-based vacuum): an orphan
    # snapshot directory from a writer that died before publishing, at a
    # version the next commit will race for. Must never affect reads or
    # version resolution, and the listing-based vacuum must sweep it once
    # its version falls below the floor WITHOUT breaking any retained
    # version (the orphan's basename is never in a retained manifest).
    st.tuples(st.just("orphan"), st.none()),
)


@settings(
    max_examples=6,  # every op is a Spark write + commit — keep it bounded
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
@given(ops=st.lists(_OP, min_size=1, max_size=5))
def test_txn_sequence_matches_dict_model(spark, tmp_path_factory, ops):
    """Any sequence of keyed upserts/deletes applied through the commit
    protocol must equal the same sequence applied to a plain dict, and
    the manifest log must advance exactly once per operation — the
    serializability statement in model-checked form."""
    store = ZoneStore(spark=spark, root=str(tmp_path_factory.mktemp("txn_model")))
    model = {0: 42}
    next_fresh = 100
    commits = 1
    chain = 1  # directories in the head version's chain (predicts auto-compact)
    txn_init(store, "curated", "t", _accounts(spark, [(0, 42)]))
    for kind, payload in ops:
        if kind == "upsert":
            txn_upsert(store, "curated", "t", _accounts(spark, payload), "account_id")
            model.update(dict(payload))
            commits += 1
            chain = 1
        elif kind in ("append", "append_auto"):
            rows = [(next_fresh + i, b) for i, b in enumerate(payload)]
            next_fresh += len(payload)
            txn_append(
                store, "curated", "t", _accounts(spark, rows),
                read_version=latest_version(store, "curated", "t"),
                auto_compact_every=2 if kind == "append_auto" else None,
            )
            model.update(dict(rows))
            commits += 1
            chain += 1
            if kind == "append_auto" and chain > 2:
                commits += 1  # the cadence compacted right after the append
                chain = 1
        elif kind == "compact":
            txn_compact(store, "curated", "t")
            commits += 1  # content unchanged, one new version
            chain = 1
        elif kind == "vacuum":
            vacuum(store, "curated", "t", keep_last=payload, min_age_sec=0)
            # content, log head, and version numbering all unchanged
        elif kind == "vacuum_aged":
            vacuum(store, "curated", "t", keep_last=payload, min_age_sec=3600.0)
            # manifests below the floor still go; every data dir in this
            # fast sequence is fresh, so the age guard spares them all —
            # reads (the invariant below) must be indistinguishable
        elif kind == "orphan":
            # debris at the NEXT version (what a crashed writer leaves)
            _accounts(spark, [(99, 99)]).write.mode("overwrite").parquet(
                store.path(
                    "curated",
                    f"t/_snapshots/v{latest_version(store, 'curated', 't') + 1:020d}-dead",
                )
            )
            # no commit happened: the model and the log are unchanged
        else:
            txn_delete_rows(
                store, "curated", "t",
                spark.createDataFrame([(k,) for k in payload], "account_id INT"),
                "account_id",
            )
            for k in payload:
                model.pop(k, None)
            commits += 1
            chain = 1
        # invariant after EVERY op: the table reads exactly the model
        assert {
            r["account_id"]: r["balance"]
            for r in txn_read(store, "curated", "t").collect()
        } == model
    assert latest_version(store, "curated", "t") == commits


# -- append commits (Delta add-file shape) ------------------------------------
from cyrela_etl_spark.sources.txn import txn_append, txn_compact


def test_append_chain_reads_union_and_time_travel(spark, store):
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v2 = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    v3 = txn_append(store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=v2)
    assert (v2, v3) == (2, 3)
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200), (3, 300)}
    # time travel sees each chain prefix
    assert _rows(txn_read(store, "curated", "accounts", 2)) == {(1, 100), (2, 200)}
    assert _rows(txn_read(store, "curated", "accounts", 1)) == {(1, 100)}
    # the chain manifest is self-contained and grows by one dir per append
    m3 = read_manifest(store, "curated", "accounts", 3)
    assert m3["op"] == "append" and len(m3["snapshots"]) == 3
    assert m3["snapshots"][-1] == m3["snapshot"]


def test_append_requires_initialized_table_and_fresh_view(spark, store):
    with pytest.raises(ValueError):
        txn_append(store, "curated", "accounts", _accounts(spark, [(1, 1)]), read_version=0)
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    # a stale appender (still at v1) must conflict, not fork the log
    with pytest.raises(TxnConflictError):
        txn_append(store, "curated", "accounts", _accounts(spark, [(9, 9)]), read_version=1)
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}


def test_append_publish_loss_cleans_orphan_delta(spark, store, monkeypatch):
    """Blind the pre-check (as in the commit-loss test) so the losing
    appender REALLY writes its delta and REALLY loses the rename — the
    orphan delta directory must be removed."""
    import cyrela_etl_spark.sources.txn as txn

    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    monkeypatch.setattr(txn, "_fresh_view_check", lambda *a, **k: None)
    with pytest.raises(TxnConflictError):
        txn_append(store, "curated", "accounts", _accounts(spark, [(9, 9)]), read_version=1)
    monkeypatch.undo()
    snaps_dir = store.path("curated", "accounts/_snapshots")
    names = [
        s.getPath().getName()
        for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir))
    ]
    assert len(names) == 2  # v1 base + v2 delta only; the loser's delta is gone


def test_vacuum_keeps_directories_referenced_by_retained_chains(spark, store):
    """Vacuuming versions whose data directories are still part of a
    retained append chain must drop their manifests (time travel dies)
    but keep the directories (the retained version stays readable)."""
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    txn_append(store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=2)
    removed = vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0)
    assert removed == [1, 2]
    # retained chain fully readable; vacuumed versions fail cleanly
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200), (3, 300)}
    with pytest.raises(FileNotFoundError):
        txn_read(store, "curated", "accounts", 2)
    # all three data dirs survive (every one referenced by v3's manifest)
    snaps_dir = store.path("curated", "accounts/_snapshots")
    names = fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir))
    assert len(list(names)) == 3


def test_compact_resets_chain_and_vacuum_frees_old_dirs(spark, store):
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    v = txn_compact(store, "curated", "accounts")
    assert v == 3
    m = read_manifest(store, "curated", "accounts", 3)
    assert m["op"] == "compact" and "snapshots" not in m
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}
    # nothing references the old base/delta once the chain is compacted
    removed = vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0)
    assert removed == [1, 2]
    snaps_dir = store.path("curated", "accounts/_snapshots")
    assert len(list(fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir)))) == 1
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_append_auto_compact_bounds_chain_and_returns_head(spark, store):
    """Compaction cadence as code (VERDICT r14 item 4): with
    auto_compact_every=K, a winning append whose chain exceeds K dirs is
    followed by txn_compact, the RETURN VALUE is the post-compact head
    (usable directly as the next read_version), and the at-rest chain
    never exceeds K directories — so every manifest stays O(K) paths."""
    from cyrela_etl_spark.sources.txn import _version_dirs, read_manifest

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 8):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(k, k * 100)]),
            read_version=v, auto_compact_every=2,
        )
        m = read_manifest(store, "curated", "accounts", v)
        assert len(_version_dirs(m)) <= 2, m
    # 6 appends, 3 of them tripped the cadence: 1 init + 6 + 3 = 10
    assert v == 10 and latest_version(store, "curated", "accounts") == 10
    assert read_manifest(store, "curated", "accounts", 10)["op"] == "compact"
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (k, k * 100) for k in range(1, 8)
    }

    with pytest.raises(ValueError):
        txn_append(
            store, "curated", "accounts", _accounts(spark, [(10, 1000)]),
            read_version=v, auto_compact_every=0,
        )


def test_append_auto_compact_is_best_effort_under_contention(spark, store, monkeypatch):
    """If the cadence's compact loses its retries to live writers, the
    append itself must stand: the caller gets the APPEND's version back,
    nothing raises, and the table reads exactly the appended content
    (the winners' own cadence is what bounds the chain then)."""
    import cyrela_etl_spark.sources.txn as txn_mod

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)

    def always_loses(store_, zone, key, max_retries=10):
        raise txn_mod.TxnConflictError(store_.path(zone, key), 99)

    monkeypatch.setattr(txn_mod, "txn_compact", always_loses)
    got = txn_append(
        store, "curated", "accounts", _accounts(spark, [(3, 300)]),
        read_version=v, auto_compact_every=1,  # always over the cadence
    )
    assert got == 3  # the append's own version, not a compact's
    assert latest_version(store, "curated", "accounts") == 3
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (1, 100), (2, 200), (3, 300)
    }


def test_append_chain_warns_past_threshold_without_cadence(spark, store, monkeypatch):
    """Without a cadence, a chain crossing _CHAIN_WARN_THRESHOLD warns
    loudly (the VERDICT item's fallback obligation); with the cadence
    set, the same sequence stays silent because the chain never gets
    that long."""
    import warnings

    import cyrela_etl_spark.sources.txn as txn_mod

    monkeypatch.setattr(txn_mod, "_CHAIN_WARN_THRESHOLD", 3)
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    with pytest.warns(RuntimeWarning, match="auto_compact_every"):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=v
        )
    # cadence on: the warn branch is off — the cadence bounds the chain
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(4, 400)]),
            read_version=v, auto_compact_every=2,
        )
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (1, 100), (2, 200), (3, 300), (4, 400)
    }


def test_vacuum_age_guard_spares_fresh_unreferenced_dirs(spark, store):
    """ADVICE r14: a live writer stale by more than keep_last versions
    has its in-flight snapshot dir version-encoded below the floor and
    referenced by nothing — indistinguishable from crash debris — so an
    eager sweep can delete it mid-write (symptom: executor IO error, not
    TxnConflictError). vacuum(min_age_sec=T) must spare any
    unreferenced dir modified within T (Delta's retention-hours check),
    while still removing manifests; an aged dir is swept by the next
    eager vacuum."""
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=v)
    # a stale writer's in-flight dir at version 2 (below the floor)
    inflight = store.path("curated", "accounts/_snapshots/v%020d-inflight" % 2)
    _accounts(spark, [(99, 999)]).write.mode("overwrite").parquet(inflight)

    removed = vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=3600)
    assert removed == [1, 2]  # manifest removal is never age-gated
    assert fs.exists(jvm.org.apache.hadoop.fs.Path(inflight)), (
        "fresh unreferenced dir must survive an age-guarded vacuum"
    )
    # once aged (here: guard dropped), the next vacuum sweeps it
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == []
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(inflight))
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (1, 100), (2, 200), (3, 300)
    }


def test_vacuum_default_is_delta_retention_not_eager(spark, store):
    """VERDICT r15 item 5 (decided r16): the DEFAULT vacuum is
    age-guarded at Delta's 7-day retention, so an un-tuned production
    caller gets the live-writer race closed out of the box; eager is an
    explicit opt-out (min_age_sec=0) that skips the two-clock mtime
    comparison entirely (ADVICE r16 low). Manifest removal — the
    `removed` contract — is identical either way."""
    from cyrela_etl_spark.sources.txn import VACUUM_RETENTION_SEC_DEFAULT

    assert VACUUM_RETENTION_SEC_DEFAULT == 7 * 24 * 3600.0
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=v)
    inflight = store.path("curated", "accounts/_snapshots/v%020d-inflight" % 2)
    _accounts(spark, [(99, 999)]).write.mode("overwrite").parquet(inflight)
    # DEFAULT call: manifests below the floor go (time travel dies) but
    # every fresh data dir — including the unreferenced in-flight one —
    # survives the retention guard
    removed = vacuum(store, "curated", "accounts", keep_last=1)
    assert removed == [1, 2]
    assert fs.exists(jvm.org.apache.hadoop.fs.Path(inflight)), (
        "default vacuum must spare fresh unreferenced dirs (7-day retention)"
    )
    with pytest.raises(FileNotFoundError):
        txn_read(store, "curated", "accounts", version=1)  # time travel dead
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (1, 100), (2, 200), (3, 300)
    }
    # explicit eager opt-out sweeps what the default spared
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == []
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(inflight))


def test_append_auto_compact_failure_never_masks_the_commit(spark, store, monkeypatch):
    """ADVICE r16 (medium): after the append has published durably, ANY
    auto-compact failure — not just TxnConflictError — must be swallowed
    (with a RuntimeWarning) and the append's version returned. If it
    propagated, a retrying caller would re-append the same batch and
    duplicate rows."""
    import warnings

    import cyrela_etl_spark.sources.txn as txn_mod

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)

    def _boom(*a, **k):
        raise OSError("executor died mid-rewrite")  # a racing vacuum / IO error

    monkeypatch.setattr(txn_mod, "txn_compact", _boom)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = txn_append(
            store, "curated", "accounts", _accounts(spark, [(3, 300)]),
            read_version=v, auto_compact_every=1,
        )
    assert got == v + 1, "the durable append's version, not an exception"
    assert any(
        issubclass(w.category, RuntimeWarning) and "do not retry" in str(w.message)
        for w in caught
    )
    # the table holds exactly one copy of every row — nothing duplicated,
    # nothing lost, chain merely uncompacted
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (1, 100), (2, 200), (3, 300)
    }


def test_append_chain_reads_as_one_multipath_scan(spark, store):
    """Scale property of the chain read: txn_read of an N-append chain
    must plan ONE FileScan whose relation spans all chain directories —
    not N unioned scans (plan size and scheduler overhead would then grow
    per append even after predicate pushdown)."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 6):
        v = txn_append(store, "curated", "accounts", _accounts(spark, [(k, k * 100)]), read_version=v)
    df = txn_read(store, "curated", "accounts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan
    assert df.count() == 5


def test_append_rejects_schema_drift(spark, store):
    """Schema-on-write for appends (ADVICE r10 / VERDICT r10 item 3b): a
    batch with a missing, extra, or retyped column must be rejected with
    ValueError BEFORE any data is written — otherwise the multi-path
    chain read silently yields nulls or drops columns depending on which
    parquet footer supplies the schema. Column ORDER is free (Delta
    matches by name); the delta lands in table order."""
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))

    drifted = [
        spark.createDataFrame([(2,)], "account_id INT"),  # missing column
        spark.createDataFrame([(2, 200, "x")], "account_id INT, balance INT, tag STRING"),
        spark.createDataFrame([(2, 200.0)], "account_id INT, balance DOUBLE"),  # retyped
        spark.createDataFrame([(2, 200)], "account_id INT, amount INT"),  # renamed
    ]
    for bad in drifted:
        with pytest.raises(ValueError, match="schema mismatch"):
            txn_append(store, "curated", "accounts", bad, read_version=1)
    # rejection is up-front: no delta dir was written, no version consumed
    assert latest_version(store, "curated", "accounts") == 1
    snaps_dir = store.path("curated", "accounts/_snapshots")
    assert len(list(fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir)))) == 1

    # reordered columns are FINE and land in table column order
    reordered = spark.createDataFrame([(200, 2)], "balance INT, account_id INT")
    v2 = txn_append(store, "curated", "accounts", reordered, read_version=1)
    assert v2 == 2
    chain = txn_read(store, "curated", "accounts")
    assert chain.columns == ["account_id", "balance"]
    assert _rows(chain) == {(1, 100), (2, 200)}


def test_append_accepts_nested_nullability_drift(spark, store):
    """Nullability is free at EVERY nesting level (ADVICE r11): DataType
    equality includes nested containsNull/nullable flags, so the check
    must strip them recursively — a batch whose struct field or array
    element differs only in nullability is the same table schema."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    base_schema = StructType([
        StructField("account_id", IntegerType(), True),
        StructField(
            "meta",
            StructType([StructField("tag", StringType(), True)]),
            True,
        ),
        StructField("scores", ArrayType(IntegerType(), containsNull=True), True),
    ])
    base = spark.createDataFrame([(1, ("a",), [1, 2])], base_schema)
    txn_init(store, "curated", "nested", base)

    # same structure, non-null everywhere below the top level
    tight_schema = StructType([
        StructField("account_id", IntegerType(), False),
        StructField(
            "meta",
            StructType([StructField("tag", StringType(), False)]),
            False,
        ),
        StructField("scores", ArrayType(IntegerType(), containsNull=False), False),
    ])
    tight = spark.createDataFrame([(2, ("b",), [3])], tight_schema)
    v2 = txn_append(store, "curated", "nested", tight, read_version=1)
    assert v2 == 2
    chain = txn_read(store, "curated", "nested")
    assert chain.count() == 2
    assert {r["account_id"] for r in chain.select("account_id").collect()} == {1, 2}

    # a genuinely retyped NESTED field is still rejected
    retyped_schema = StructType([
        StructField("account_id", IntegerType(), True),
        StructField(
            "meta",
            StructType([StructField("tag", IntegerType(), True)]),
            True,
        ),
        StructField("scores", ArrayType(IntegerType(), True), True),
    ])
    retyped = spark.createDataFrame([(3, (9,), [4])], retyped_schema)
    with pytest.raises(ValueError, match="schema mismatch"):
        txn_append(store, "curated", "nested", retyped, read_version=2)


def test_two_threads_racing_appends_exactly_one_wins_then_retry(spark, store):
    """A REAL two-appender race (VERDICT r10 item 3a): two driver threads
    both read v1 and race txn_append for v2. Exactly one publish wins;
    the loser gets TxnConflictError and its orphan delta directory is
    cleaned; the loser's retry at the new version succeeds; the final
    chain read unions BOTH batches with no duplicate or lost rows."""
    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(0, 0)]))
    barrier = threading.Barrier(2)
    outcomes: dict[int, str] = {}
    errors: list[Exception] = []

    def appender(k: int):
        try:
            barrier.wait(timeout=30)
            try:
                txn_append(
                    store, "curated", "accounts",
                    _accounts(spark, [(k, k * 10)]), read_version=1,
                )
                outcomes[k] = "won"
            except TxnConflictError:
                outcomes[k] = "lost"
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert sorted(outcomes.values()) == ["lost", "won"], outcomes
    loser = next(k for k, o in outcomes.items() if o == "lost")

    # the loser's orphan delta was cleaned: only v1 base + winner's delta
    snaps_dir = store.path("curated", "accounts/_snapshots")
    assert len(list(fs.listStatus(jvm.org.apache.hadoop.fs.Path(snaps_dir)))) == 2
    assert latest_version(store, "curated", "accounts") == 2

    # loser retries at the fresh version and succeeds
    v3 = txn_append(
        store, "curated", "accounts", _accounts(spark, [(loser, loser * 10)]), read_version=2
    )
    assert v3 == 3
    assert _rows(txn_read(store, "curated", "accounts")) == {(0, 0), (1, 10), (2, 20)}


def test_append_schema_check_falls_back_on_pre_schema_manifests(spark, store, tmp_path):
    """Manifests written before the schema_json field (Delta's
    metaData.schemaString ride-along) must still support appends: the
    check falls back to ONE parquet footer read and keeps rejecting
    drifted batches."""
    import json as _json

    from cyrela_etl_spark.sources.txn import _manifest_path

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    mpath = _manifest_path(store, "curated", "accounts", 1).removeprefix("file:")
    m = _json.loads(open(mpath).read())
    assert "schema_json" in m
    del m["schema_json"]
    open(mpath, "w").write(_json.dumps(m, sort_keys=True))
    # the direct rewrite invalidates Hadoop's CRC sidecar; a genuinely
    # old manifest would have a consistent one
    import os as _os

    crc = _os.path.join(_os.path.dirname(mpath), f".{_os.path.basename(mpath)}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)

    with pytest.raises(ValueError, match="schema mismatch"):
        txn_append(
            store, "curated", "accounts",
            spark.createDataFrame([(2, 200.0)], "account_id INT, balance DOUBLE"),
            read_version=1,
        )
    v2 = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    assert v2 == 2
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100), (2, 200)}


def test_reader_spanning_vacuum_stays_readable(spark, store):
    """The chain-aware retention guarantee from the READER side (VERDICT
    r12 item 5): a lazy DataFrame planned on the retained latest version
    BEFORE vacuum runs must still collect correctly AFTER vacuum removed
    every older version — vacuum may delete old manifests, but never a
    data directory the retained chain references, so a reader whose scan
    spans the vacuum window sees no missing files."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 8):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(k, k * 100)]), read_version=v
        )
    # planned before vacuum: its relation lists all 7 chain directories,
    # 6 of which were first written by versions vacuum is about to remove
    reader = txn_read(store, "curated", "accounts")
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == [1, 2, 3, 4, 5, 6]
    assert _rows(reader) == {(k, k * 100) for k in range(1, 8)}


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_reader_racing_vacuum_never_fails(spark, store):
    """A reader thread looping full reads of the retained latest while
    vacuum deletes the other versions' manifests: every read must succeed
    with the complete row set — there is no window where the latest
    version's data is partially removed."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 13):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(k, k * 100)]), read_version=v
        )
    want = {(k, k * 100) for k in range(1, 13)}
    stop = threading.Event()
    failures: list[BaseException] = []
    reads = [0]

    def reader():
        try:
            # do-while: at least one read always overlaps or follows the
            # vacuum window, so the race assertion below can't go flaky
            # when vacuum finishes before the loop's first stop check
            while True:
                assert _rows(txn_read(store, "curated", "accounts")) == want
                reads[0] += 1
                if stop.is_set():
                    break
        except BaseException as e:  # noqa: BLE001 — surface to the main thread
            failures.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        removed = vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0)
    finally:
        stop.set()
        t.join()
    assert removed == list(range(1, 12))
    assert not failures, failures
    assert reads[0] >= 1  # the race actually overlapped at least one read
    assert _rows(txn_read(store, "curated", "accounts")) == want


def test_commit_with_invented_future_version_conflicts(spark, store):
    """The O(1) fresh-view pre-check (r13) must preserve the old listing
    check's rejection of a caller passing a read_version ahead of the
    log head — without it, a buggy caller would fork a gapped version
    the listing-based latest_version would then treat as latest."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    with pytest.raises(TxnConflictError):
        txn_commit(
            store, "curated", "accounts", _accounts(spark, [(2, 2)]),
            read_version=5,
        )
    with pytest.raises(TxnConflictError):
        txn_append(
            store, "curated", "accounts", _accounts(spark, [(2, 2)]),
            read_version=5,
        )
    # the log head is untouched
    assert latest_version(store, "curated", "accounts") == 1
    assert _rows(txn_read(store, "curated", "accounts")) == {(1, 100)}


def test_init_after_vacuum_conflicts_instead_of_forking(spark, store):
    """ADVICE r13 (medium): once vacuum has removed manifest v1, absence
    of manifest(1) no longer proves the table is empty — a txn_init (or
    txn_commit at read_version=0) that trusted the two-probe shortcut
    would put-if-absent-publish v1 BELOW the live head: latest_version
    still resolves the head, so the fork is silent and a follow-up append
    at read_version=1 commits an invisible v2 — durable lost updates.
    Init must fall back to the full listing and raise."""
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 6):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(k, k * 100)]), read_version=v
        )
    assert vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0) == [1, 2, 3, 4]
    with pytest.raises(TxnConflictError):
        txn_init(store, "curated", "accounts", _accounts(spark, [(9, 900)]))
    with pytest.raises(TxnConflictError):
        txn_commit(
            store, "curated", "accounts", _accounts(spark, [(9, 900)]), read_version=0
        )
    # the head is untouched and fully readable; an append against the true
    # head still lands (the O(1) path is unaffected by the init fallback)
    assert latest_version(store, "curated", "accounts") == 5
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (k, k * 100) for k in range(1, 6)
    }
    assert (
        txn_append(
            store, "curated", "accounts", _accounts(spark, [(6, 600)]), read_version=5
        )
        == 6
    )


def test_vacuum_sweeps_old_orphan_dirs_and_reads_no_vacuumable_manifest(
    spark, store, monkeypatch
):
    """The r14 listing-based vacuum: (a) an orphan snapshot directory left
    by a writer that crashed before publishing IS collected once its
    version falls below the floor (Delta-vacuum parity — no manifest ever
    listed it, so the old manifest-walk could never free it), while an
    orphan ABOVE the floor (a possibly in-flight commit) is untouched;
    (b) vacuum reads ONLY retained manifests — chain manifest v is O(v)
    bytes, so reading the vacuumable ones made an N-chain vacuum O(N^2)
    manifest bytes over py4j."""
    import cyrela_etl_spark.sources.txn as txn_mod

    fs, jvm = store._fs()
    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = 1
    for k in range(2, 6):
        v = txn_append(
            store, "curated", "accounts", _accounts(spark, [(k, k * 100)]), read_version=v
        )
    # crash debris: unpublished snapshot dirs at a vacuumable version (2)
    # and at a winnable future version (99)
    old_orphan = store.path("curated", "accounts/_snapshots/v00000000000000000002-dead")
    new_orphan = store.path("curated", "accounts/_snapshots/v00000000000000000099-dead")
    _accounts(spark, [(8, 800)]).write.parquet(old_orphan)
    _accounts(spark, [(9, 900)]).write.parquet(new_orphan)

    reads: list[str] = []
    real_read = txn_mod._read_json

    def counting_read(st, path):
        reads.append(path)
        return real_read(st, path)

    monkeypatch.setattr(txn_mod, "_read_json", counting_read)
    assert vacuum(store, "curated", "accounts", keep_last=2, min_age_sec=0) == [1, 2, 3]
    # only the retained manifests (v4, v5) were opened
    assert sorted(p.rsplit("/", 1)[-1] for p in reads) == [
        f"{4:020d}.json",
        f"{5:020d}.json",
    ]
    jp = jvm.org.apache.hadoop.fs.Path
    assert not fs.exists(jp(old_orphan))  # swept with its version cohort
    assert fs.exists(jp(new_orphan))  # above the floor: never touched
    # retained chain intact (v4 and v5 share dirs with vacuumed versions)
    assert _rows(txn_read(store, "curated", "accounts")) == {
        (k, k * 100) for k in range(1, 6)
    }
    assert _rows(txn_read(store, "curated", "accounts", 4)) == {
        (k, k * 100) for k in range(1, 5)
    }


def test_vacuum_report_surfaces_swept_vs_spared(spark, store):
    """ADVICE r16 (low): with the 7-day default, the returned version
    list can name versions whose data dirs were age-spared, while the
    later eager vacuum that actually reclaims the space returns [] —
    misleading any ops tooling keying reclamation on the return value.
    The VacuumReport return (still the same list[int]) now carries the
    physical sweep: swept_dirs (deleted this call) vs spared_dirs
    (eligible but age-spared)."""
    from cyrela_etl_spark.sources.txn import VacuumReport

    txn_init(store, "curated", "accounts", _accounts(spark, [(1, 100)]))
    v = txn_append(store, "curated", "accounts", _accounts(spark, [(2, 200)]), read_version=1)
    txn_append(store, "curated", "accounts", _accounts(spark, [(3, 300)]), read_version=v)
    inflight_name = "v%020d-inflight" % 2
    inflight = store.path("curated", f"accounts/_snapshots/{inflight_name}")
    _accounts(spark, [(99, 999)]).write.mode("overwrite").parquet(inflight)

    defaulted = vacuum(store, "curated", "accounts", keep_last=1)
    assert isinstance(defaulted, VacuumReport)
    assert defaulted == [1, 2]  # list contract unchanged
    assert defaulted.swept_dirs == []  # nothing reclaimed yet
    assert defaulted.spared_dirs == [inflight_name]  # and the report says so

    eager = vacuum(store, "curated", "accounts", keep_last=1, min_age_sec=0)
    assert eager == []  # no manifests left below the floor
    assert eager.swept_dirs == [inflight_name]  # the space reclaim, observable
    assert eager.spared_dirs == []  # eager never spares
