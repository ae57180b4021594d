"""Model-based randomized testing of the delta write surface.

Random sequences of append / DV-delete / merge-upsert / merge-delete /
optimize / checkpoint / vacuum run against BOTH the real table
(sources/delta.py) and a driver-side dict model; after every step the
table read must equal the model exactly. This is the strongest
correctness evidence the write path has: any interaction bug between
deletion vectors, copy-on-write merges, compaction, checkpoint replay
and log vacuuming surfaces as a mismatch at the step that broke it."""

from __future__ import annotations

import random

import pytest


def _mk_df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, p string")


def _p(k: int) -> str:
    return str(k % 4)


def _read(spark, path) -> dict[int, int]:
    from lakeapi_spark.sources.delta import read_delta_fallback

    out = {}
    for r in read_delta_fallback(spark, path).collect():
        assert r.k not in out, f"duplicate key {r.k} in table read"
        assert r.p == _p(r.k), f"partition drift for key {r.k}"
        out[r.k] = r.v
    return out


_SOAK_SEEDS: list[tuple[int, bool]] = (
    # SPARK_GRAFT_SOAK widens the random-sequence sweep (run on demand —
    # each seed is a full 12-op table history, too slow for every CI
    # pass; the default 4 seeds stay unconditional)
    [(s, False) for s in (3, 7, 19, 59, 71, 83, 97, 101)]
    + [(s, True) for s in (13, 29, 61, 89)]
    if __import__("os").environ.get("SPARK_GRAFT_SOAK")
    else []
)


@pytest.mark.parametrize(
    "seed,colmap",
    [(11, False), (23, False), (47, False), (31, True)] + _SOAK_SEEDS,
)
def test_random_op_sequences_match_model(spark, tmp_path, seed, colmap):
    """``colmap=True`` runs the same random sequence against a
    COLUMN-MAPPED table (physical col-k/col-v/col-p files) — every op
    interaction (DV deletes, merges, updates, optimize, checkpoint,
    vacuum) must hold under the physical layout too."""
    from lakeapi_spark.sources.delta import (
        checkpoint_delta,
        delete_delta,
        merge_delta,
        optimize_delta,
        vacuum_delta,
        write_delta,
        write_delta_column_mapped,
    )

    rnd = random.Random(seed)
    path = str(tmp_path / f"model_{seed}")
    model: dict[int, int] = {}
    next_key = 0

    def fresh_keys(n):
        nonlocal next_key
        ks = list(range(next_key, next_key + n))
        next_key += n
        return ks

    # seed commit
    ks = fresh_keys(40)
    if colmap:
        write_delta_column_mapped(
            _mk_df(spark, [(k, k * 2, _p(k)) for k in ks]),
            path,
            partition_by=["p"],
            physical_names={"k": "col-k", "v": "col-v", "p": "col-p"},
        )
    else:
        write_delta(
            _mk_df(spark, [(k, k * 2, _p(k)) for k in ks]),
            path,
            partition_by=["p"],
        )
    model.update({k: k * 2 for k in ks})

    ops = ["append", "delete", "update", "merge_upsert", "merge_delete",
           "optimize", "checkpoint", "vacuum"]
    history = []
    for step in range(12):
        op = rnd.choice(ops)
        history.append(op)
        if op == "append":
            ks = fresh_keys(rnd.randint(1, 15))
            write_delta(
                _mk_df(spark, [(k, k * 3, _p(k)) for k in ks]),
                path,
                mode="append",
                partition_by=["p"],
            )
            model.update({k: k * 3 for k in ks})
        elif op == "delete":
            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            delete_delta(spark, path, f"k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                del model[k]
        elif op == "update":
            from lakeapi_spark.sources.delta import update_delta

            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            update_delta(spark, path, {"v": "v + 1000"}, f"k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                model[k] += 1000
        elif op in ("merge_upsert", "merge_delete"):
            existing = sorted(model)
            upd = rnd.sample(existing, min(len(existing), rnd.randint(0, 8)))
            new = fresh_keys(rnd.randint(0, 5))
            src_rows = [(k, k * 7, _p(k)) for k in upd + new]
            if not src_rows:
                continue
            if op == "merge_upsert":
                merge_delta(_mk_df(spark, src_rows), path, on=["k"])
                model.update({k: k * 7 for k in upd + new})
            else:
                merge_delta(
                    _mk_df(spark, src_rows),
                    path,
                    on=["k"],
                    when_matched="delete",
                    when_not_matched="ignore",
                )
                for k in upd:
                    del model[k]
        elif op == "optimize":
            optimize_delta(spark, path)
        elif op == "checkpoint":
            checkpoint_delta(spark, path)
        elif op == "vacuum":
            vacuum_delta(spark, path)
        got = _read(spark, path)
        assert got == model, (
            f"seed {seed} diverged after step {step} ({' -> '.join(history)}): "
            f"{len(got)} rows vs model {len(model)}; "
            f"extra={sorted(set(got) - set(model))[:5]} "
            f"missing={sorted(set(model) - set(got))[:5]}"
        )


def test_delta_changes_tails_commits(spark, tmp_path):
    """delta_changes: per-commit change rows reconstruct the table —
    applying inserts minus deletes over the tailed range must equal the
    final state, and pure OPTIMIZE commits contribute zero rows."""
    from lakeapi_spark.sources.delta import (
        delete_delta,
        delta_changes,
        merge_delta,
        optimize_delta,
        write_delta,
    )

    path = str(tmp_path / "tail")
    df = spark.range(20).selectExpr("id AS k", "id AS v", "CAST(id % 2 AS STRING) AS p")
    write_delta(df, path, partition_by=["p"])  # v0
    delete_delta(spark, path, "k < 5")  # v1
    merge_delta(
        spark.createDataFrame([(7, 700, "1"), (100, 1, "0")], "k long, v long, p string"),
        path,
        on=["k"],
    )  # v2
    optimize_delta(spark, path)  # v3: compaction only
    changes = delta_changes(spark, path, 0).collect()
    by_version = {}
    for r in changes:
        by_version.setdefault(r._commit_version, []).append(r)
    assert set(by_version) <= {1, 2}  # v3 (OPTIMIZE) contributes nothing
    assert sorted(r.k for r in by_version[1]) == [0, 1, 2, 3, 4]
    assert all(r._change_type == "delete" for r in by_version[1])
    v2 = {(r.k, r._change_type) for r in by_version[2]}
    assert (7, "delete") in v2 and (7, "insert") in v2 and (100, "insert") in v2
    # replaying the change stream over v0 yields the final state
    state = {r.k: r.v for r in spark.createDataFrame(
        [(k, k) for k in range(20)], "k long, v long").collect()}
    for v in sorted(by_version):
        for r in sorted(by_version[v], key=lambda r: r._change_type == "insert"):
            if r._change_type == "delete":
                del state[r.k]
            else:
                state[r.k] = r.v
    from lakeapi_spark.sources.delta import read_delta_fallback

    final = {r.k: r.v for r in read_delta_fallback(spark, path).collect()}
    assert state == final


class TestSyncIncremental:
    """sync_incremental: replica maintenance by change stream — apply
    churn, not full recompute."""

    def test_bootstrap_then_incremental(self, spark, tmp_path):
        from lakeapi_spark.sources.delta import (
            delete_delta,
            read_delta_fallback,
            sync_incremental,
            update_delta,
            write_delta,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.range(30).selectExpr(
            "id AS k", "id AS v", "CAST(id % 3 AS STRING) AS p"
        )
        write_delta(df, src, partition_by=["p"])
        # bootstrap = full copy
        sync_incremental(spark, src, dst, keys=["k"])
        assert read_delta_fallback(spark, dst).count() == 30
        # churn on the source: delete, update, append
        delete_delta(spark, src, "k % 5 = 0")
        update_delta(spark, src, {"v": "v + 100"}, "k % 7 = 1")
        write_delta(
            spark.range(100, 105).selectExpr(
                "id AS k", "id AS v", "CAST(id % 3 AS STRING) AS p"
            ),
            src,
            mode="append",
            partition_by=["p"],
        )
        sync_incremental(spark, src, dst, keys=["k"])
        want = {r.k: r.v for r in read_delta_fallback(spark, src).collect()}
        got = {r.k: r.v for r in read_delta_fallback(spark, dst).collect()}
        assert got == want
        # no new churn -> no-op
        assert sync_incremental(spark, src, dst, keys=["k"]) is None

    def test_resync_is_idempotent_after_marker_loss(self, spark, tmp_path):
        """Replaying an already-applied source version must be a no-op
        on the data (at-least-once + idempotent apply)."""
        from lakeapi_spark.sources.delta import (
            delete_delta,
            last_txn_version,
            read_delta_fallback,
            sync_incremental,
            write_delta,
        )

        src = str(tmp_path / "src2")
        dst = str(tmp_path / "dst2")
        write_delta(spark.range(10).selectExpr("id AS k", "id AS v"), src)
        sync_incremental(spark, src, dst, keys=["k"])
        delete_delta(spark, src, "k < 3")
        sync_incremental(spark, src, dst, keys=["k"])
        before = {r.k: r.v for r in read_delta_fallback(spark, dst).collect()}
        # simulate a lost marker: force re-application of version 1
        from lakeapi_spark.sources import delta as delta_mod

        delta_mod._commit_txn_marker(
            spark, dst, f"sync:{src}", 0
        )  # marker rolled back to v0
        sync_incremental(spark, src, dst, keys=["k"])  # re-applies v1
        after = {r.k: r.v for r in read_delta_fallback(spark, dst).collect()}
        assert after == before
        assert last_txn_version(spark, dst, f"sync:{src}") == 1

    def test_unmarked_existing_destination_rejected(self, spark, tmp_path):
        """A pre-existing destination without this app's sync marker
        must raise, never silently re-tail from an arbitrary version."""
        from lakeapi_spark.sources.delta import sync_incremental, write_delta

        src = str(tmp_path / "src3")
        dst = str(tmp_path / "dst3")
        write_delta(spark.range(5).selectExpr("id AS k"), src)
        write_delta(spark.range(5).selectExpr("id AS k"), dst)  # foreign dst
        with pytest.raises(ValueError, match="no sync marker"):
            sync_incremental(spark, src, dst, keys=["k"])


@pytest.mark.parametrize("seed", [5, 61])
def test_random_op_sequences_cdf_replay(spark, tmp_path, seed):
    """Randomized CHANGE-FEED soundness: random append/delete/update/
    merge sequences run on a CDF-enabled table, then the tailed change
    rows — folded strictly in commit order, retractions before
    additions within a commit — must rebuild the final state from the
    v0 snapshot exactly. Any cdc-file or version-diff bug that drops,
    duplicates, or mis-tags a row surfaces as a key/value mismatch."""
    from lakeapi_spark.sources.delta import (
        delete_delta,
        delta_changes,
        delta_snapshot,
        merge_delta,
        read_delta,
        update_delta,
        write_delta,
    )

    rnd = random.Random(seed)
    path = str(tmp_path / f"cdf_{seed}")
    next_key = 40

    def fresh_keys(n):
        nonlocal next_key
        ks = list(range(next_key, next_key + n))
        next_key += n
        return ks

    write_delta(
        _mk_df(spark, [(k, k * 2, _p(k)) for k in range(40)]),
        path,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    for _ in range(8):
        op = rnd.choice(["append", "delete", "update", "merge_upsert"])
        if op == "append":
            ks = fresh_keys(rnd.randint(1, 10))
            write_delta(
                _mk_df(spark, [(k, k * 3, _p(k)) for k in ks]),
                path, mode="append", partition_by=["p"],
            )
        elif op == "delete":
            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            delete_delta(spark, path, f"k % {m} = {r}")
        elif op == "update":
            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            update_delta(spark, path, {"v": "v + 1000"}, f"k % {m} = {r}")
        else:
            ks = fresh_keys(rnd.randint(1, 5))
            merge_delta(_mk_df(spark, [(k, k * 7, _p(k)) for k in ks]), path, on=["k"])

    final_v = delta_snapshot(spark, path).version
    state = {
        r.k: r.v
        for r in read_delta(spark, path, {"versionAsOf": "0"}).collect()
    }
    ch = delta_changes(spark, path, v_from=0, v_to=final_v).collect()
    by_version: dict[int, list] = {}
    for r in ch:
        by_version.setdefault(r._commit_version, []).append(r)
    for v in sorted(by_version):
        rows = by_version[v]
        for r in rows:  # retractions first
            if r._change_type in ("delete", "update_preimage"):
                assert state.pop(r.k) == r.v, (v, r)
        for r in rows:
            if r._change_type in ("insert", "update_postimage"):
                assert r.k not in state, (v, r)
                state[r.k] = r.v
    assert state == _read(spark, path)


@pytest.mark.parametrize("seed", [13])
def test_restore_to_random_historic_version(spark, tmp_path, seed):
    """RESTORE model check: snapshots of the driver-side model are
    recorded after every random op; restoring the table to a randomly
    chosen historic version must reproduce that step's model exactly,
    and the restore is itself a NEW version (history preserved) from
    which restoring back to latest-1 round-trips."""
    from lakeapi_spark.sources.delta import (
        delete_delta,
        delta_snapshot,
        merge_delta,
        restore_delta,
        update_delta,
        write_delta,
    )

    rnd = random.Random(seed)
    path = str(tmp_path / "restore_model")
    next_key = 30

    def fresh_keys(n):
        nonlocal next_key
        ks = list(range(next_key, next_key + n))
        next_key += n
        return ks

    model = {k: k * 2 for k in range(30)}
    write_delta(
        _mk_df(spark, [(k, v, _p(k)) for k, v in model.items()]),
        path,
        partition_by=["p"],
    )
    snapshots = {0: dict(model)}
    for _ in range(6):
        op = rnd.choice(["append", "delete", "update", "merge_upsert"])
        if op == "append":
            ks = fresh_keys(rnd.randint(1, 8))
            write_delta(
                _mk_df(spark, [(k, k * 3, _p(k)) for k in ks]),
                path, mode="append", partition_by=["p"],
            )
            model.update({k: k * 3 for k in ks})
        elif op == "delete":
            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            delete_delta(spark, path, f"k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                del model[k]
        elif op == "update":
            m, r = rnd.randint(2, 9), rnd.randint(0, 1)
            update_delta(spark, path, {"v": "v + 1000"}, f"k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                model[k] += 1000
        else:
            ks = fresh_keys(rnd.randint(1, 4))
            merge_delta(_mk_df(spark, [(k, k * 7, _p(k)) for k in ks]), path, on=["k"])
            model.update({k: k * 7 for k in ks})
        snapshots[delta_snapshot(spark, path).version] = dict(model)

    versions = sorted(snapshots)
    target = rnd.choice(versions[:-1])
    pre_restore_latest = versions[-1]
    restore_delta(spark, path, target)
    assert _read(spark, path) == snapshots[target]
    # the restore commit preserved history: restoring forward again
    # reproduces the pre-restore latest state
    restore_delta(spark, path, pre_restore_latest)
    assert _read(spark, path) == snapshots[pre_restore_latest]


def test_fs_routed_commit_file_uri_roundtrip(spark, tmp_path):
    """Committing through an explicit ``file:`` URI strips it to the
    POSIX path (temp write, then put-if-absent link): the commit must
    land where the normal read path replays it, losing the version race
    must return False, and no temp litter may remain in _delta_log."""
    import json
    import os

    from lakeapi_spark.sources.delta import (
        _try_commit,
        read_delta_fallback,
        write_delta,
    )

    path = str(tmp_path / "tbl")
    write_delta(_mk_df(spark, [(1, 10, _p(1)), (2, 20, _p(2))]), path)  # v0

    log_uri = f"file://{path}/_delta_log"
    snap_files = [
        json.loads(line)["add"]["path"]
        for line in open(f"{path}/_delta_log/{0:020d}.json")
        if '"add"' in line
    ]
    removes = [
        {"remove": {"path": p, "deletionTimestamp": 1, "dataChange": True}}
        for p in snap_files
    ]
    assert _try_commit(log_uri, 1, removes, operation="DELETE") is True
    assert _try_commit(log_uri, 1, removes, operation="DELETE") is False  # race lost
    assert read_delta_fallback(spark, path).count() == 0  # reader replays the commit

    log_names = sorted(os.listdir(f"{path}/_delta_log"))
    assert f"{1:020d}.json" in log_names
    assert not [n for n in log_names if n.endswith(".tmp")]  # no temp litter


def test_fs_routed_commit_from_a_worker_thread(spark, tmp_path):
    """A serving thread did not create the session, and
    ``getActiveSession()`` is None there: a ``file:`` commit from such a
    thread needs no session and must land."""
    import concurrent.futures

    from lakeapi_spark.sources.delta import _try_commit, delta_snapshot, write_delta

    path = str(tmp_path / "tbl")
    write_delta(_mk_df(spark, [(1, 10, _p(1))]), path)  # v0
    txn = [{"txn": {"appId": "worker", "version": 7}}]
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        landed = pool.submit(_try_commit, f"file://{path}/_delta_log", 1, txn).result()
    assert landed is True
    assert delta_snapshot(spark, path).app_versions == {"worker": 7}


def test_try_commit_refuses_a_uri_scheme(monkeypatch):
    """The fallback writer commits with POSIX primitives only: a log URI
    that keeps a scheme after ``file:`` stripping is refused up front,
    before any file system is touched — neither the local publish nor
    the Hadoop FileSystem gateway, the way to a remote store."""
    from lakeapi_spark.sources import delta as delta_mod
    from lakeapi_spark.sources import fs as fs_mod

    def touched(*args, **kwargs):
        raise AssertionError("file system touched")

    monkeypatch.setattr(delta_mod, "_publish", touched)
    monkeypatch.setattr(fs_mod, "_fs_and_path", touched)
    txn = [{"txn": {"appId": "a", "version": 1}}]
    with pytest.raises(NotImplementedError, match="URI scheme"):
        delta_mod._try_commit("s3a://b/t/_delta_log", 1, txn)


def test_write_delta_refuses_object_store_staging(spark, tmp_path):
    """Data staging is POSIX-only:
    a scheme-carrying table URI must refuse up front instead of
    littering a literal 's3a:...' directory on local disk; explicit
    file: URIs strip to POSIX and keep working."""
    with pytest.raises(NotImplementedError, match="URI scheme"):
        from lakeapi_spark.sources.delta import write_delta

        write_delta(
            _mk_df(spark, [(1, 10, _p(1))]), "s3a://bucket/tbl"
        )
    from lakeapi_spark.sources.delta import read_delta_fallback, write_delta

    p = str(tmp_path / "t2")
    write_delta(_mk_df(spark, [(1, 10, _p(1))]), f"file://{p}")
    assert read_delta_fallback(spark, p).count() == 1
