"""One commit path for every delta writer (``sources/delta.py:_commit``).

Each writer races a commit injected at its first commit attempt (the
``_try_commit`` monkeypatch pattern of ``test_concurrent_commit_raises``).
A writer whose analysis the racer left intact retries and ends where
serial application (racer, then writer) ends; a writer whose analysis
went stale raises ``ConcurrentDeltaModificationError`` and leaves the
racer's result as it is: no deleted row comes back, no constraint is
violated."""

from __future__ import annotations

import shutil

import pytest

from lakeapi_spark.sources import delta as delta_mod


def _rows(spark, pairs):
    return spark.createDataFrame(list(pairs), "k long, v long").coalesce(1)


@pytest.fixture(scope="module")
def seed(spark, tmp_path_factory):
    """A column-mapped table of two files, f0 (k 0-4) and f1 (k 5-9),
    v = k, with k = 9 deleted through a deletion vector on f1: the DV
    feature is already in the protocol, so a racing DV delete changes
    files and leaves metaData and protocol as they are."""
    path = str(tmp_path_factory.mktemp("commit_race") / "seed")
    delta_mod.write_delta_column_mapped(_rows(spark, ((k, k) for k in range(5))), path)
    delta_mod.write_delta(_rows(spark, ((k, k) for k in range(5, 10))), path)
    delta_mod.delete_delta(spark, path, "k = 9")
    return path


#: every writer writes rows that violate the racer's ``v < 100``
WRITERS = {
    "append": lambda spark, p: delta_mod.write_delta(_rows(spark, [(10, 1010)]), p),
    "merge": lambda spark, p: delta_mod.merge_delta(_rows(spark, [(2, 1002)]), p, on=["k"]),
    "update": lambda spark, p: delta_mod.update_delta(spark, p, {"v": "v + 1000"}, "k = 3"),
    "replace_where": lambda spark, p: delta_mod.replace_where_delta(
        _rows(spark, [(4, 1004)]), p, "k = 4"
    ),
    "dv_delete": lambda spark, p: delta_mod.delete_delta(spark, p, "k = 5"),
    "optimize": lambda spark, p: delta_mod.optimize_delta(spark, p),
    "add_constraint": lambda spark, p: delta_mod.add_constraint_delta(
        spark, p, "nonneg", "v >= 0"
    ),
    "rename_column": lambda spark, p: delta_mod.rename_column_delta(spark, p, "v", "w"),
    "restore": lambda spark, p: delta_mod.restore_delta(spark, p, 1),
}


def _empty_commit(spark, path, version):
    open(f"{path}/_delta_log/{version:020d}.json", "w").close()


RACERS = {
    "empty_commit": _empty_commit,
    # f0 holds k = 1: every writer reads it except append, rename and
    # restore (optimize compacts it, its group carrying f1's DV)
    "dv_delete": lambda spark, path, version: delta_mod.delete_delta(spark, path, "k = 1"),
    "add_constraint": lambda spark, path, version: delta_mod.add_constraint_delta(
        spark, path, "small", "v < 100"
    ),
}

#: (racer, writer) pairs whose analysis the racer makes stale
STALE = {("dv_delete", w) for w in (
    "merge", "update", "replace_where", "dv_delete", "optimize", "add_constraint"
)} | {("add_constraint", w) for w in WRITERS}


def _state(spark, path):
    snap = delta_mod.delta_snapshot(spark, path)
    rows = sorted(
        tuple(sorted(r.asDict().items()))
        for r in delta_mod.read_delta_fallback(spark, path).collect()
    )
    rules = delta_mod._row_rules(snap.schema, snap.metadata_raw.get("configuration"))
    return rows, rules


def _next_version(spark, path):
    return delta_mod.delta_snapshot(spark, path).version + 1


@pytest.mark.parametrize("racer", list(RACERS))
@pytest.mark.parametrize("writer", list(WRITERS))
def test_writer_racing_a_commit(spark, seed, tmp_path, monkeypatch, writer, racer):
    serial = str(tmp_path / "serial")
    shutil.copytree(seed, serial)
    RACERS[racer](spark, serial, _next_version(spark, serial))
    stale = (racer, writer) in STALE
    if not stale:
        WRITERS[writer](spark, serial)

    raced = str(tmp_path / "raced")
    shutil.copytree(seed, raced)
    real_try = delta_mod._try_commit
    fired = []

    def racing_try(log_dir, version, actions, operation=None):
        if not fired:
            fired.append(version)
            RACERS[racer](spark, raced, version)
            return False
        return real_try(log_dir, version, actions, operation)

    monkeypatch.setattr(delta_mod, "_try_commit", racing_try)
    if stale:
        with pytest.raises(delta_mod.ConcurrentDeltaModificationError):
            WRITERS[writer](spark, raced)
    else:
        version = WRITERS[writer](spark, raced)
        assert version == fired[0] + 1
    assert _state(spark, raced) == _state(spark, serial)


def test_checkpoint_between_analysis_and_commit_changes_nothing(spark, tmp_path, monkeypatch):
    """A checkpoint replays the same metaData and protocol as the JSON
    commits it folds (an empty configuration comes back as an empty
    map), so an append that loses its race to a commit followed by a
    checkpoint retries instead of calling the table changed."""
    path = str(tmp_path / "ckpt")
    delta_mod.write_delta(_rows(spark, [(0, 0)]), path)
    real_try = delta_mod._try_commit
    fired = []

    def racing_try(log_dir, version, actions, operation=None):
        if not fired:
            fired.append(version)
            _empty_commit(spark, path, version)
            delta_mod.checkpoint_delta(spark, path)
            return False
        return real_try(log_dir, version, actions, operation)

    monkeypatch.setattr(delta_mod, "_try_commit", racing_try)
    assert delta_mod.write_delta(_rows(spark, [(1, 1)]), path) == 2
    assert sorted(r.k for r in delta_mod.read_delta_fallback(spark, path).collect()) == [0, 1]


def test_checkpoint_replays_an_empty_configuration_as_a_map(spark, tmp_path):
    """A writer copies the replayed metaData into its commit: after a
    checkpoint, an empty configuration must still be committed as the
    map the protocol requires, not as ``[]``."""
    import json

    path = str(tmp_path / "cfg")
    delta_mod.write_delta(spark.range(3).selectExpr("id AS k"), path)
    delta_mod.checkpoint_delta(spark, path)
    delta_mod.write_delta(spark.range(3).selectExpr("id AS k", "id AS extra"), path, merge_schema=True)
    with open(f"{path}/_delta_log/{1:020d}.json") as f:
        actions = [json.loads(line) for line in f]
    assert [a["metaData"]["configuration"] for a in actions if "metaData" in a] == [{}]
