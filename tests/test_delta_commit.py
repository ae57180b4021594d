"""One commit path for every delta writer (``sources/delta.py:_commit``).

Each writer races a commit injected at its first commit attempt (the
``_try_commit`` monkeypatch pattern of ``test_concurrent_commit_raises``).
A writer whose analysis the racer left intact retries and ends where
serial application (racer, then writer) ends; a writer whose analysis
went stale raises ``ConcurrentDeltaModificationError`` and leaves the
racer's result as it is: no deleted row comes back, no constraint is
violated.

Below them, the log-store contract every commit rests on: a file in
``_delta_log`` is visible in full or not at all, and exactly one writer
wins each version."""

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


def _adds(tag):
    return [
        {"add": {"path": f"{tag}-{i}.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for i in range(50)
    ]


def _run_threads(*targets, timeout=300):
    """Start one thread per target with a short switch interval (more
    interleavings per run), join each with a timeout, and require that
    all finished."""
    import sys
    import threading

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)


def test_a_reader_never_replays_a_commit_in_part(tmp_path):
    """A commit is visible in full or not at all: a thread replaying the
    newest ``<v>.json`` while another commits 1,000 versions never reads
    an empty or partial commit."""
    import json
    import os
    import threading

    log = str(tmp_path / "_delta_log")
    os.makedirs(log)
    done = threading.Event()
    committed, replayed, torn = [], [], []

    def writer():
        try:
            committed.extend(delta_mod._try_commit(log, v, _adds(v)) for v in range(1000))
        finally:
            done.set()

    def reader():  # reads each version the moment its name appears
        v = 0
        while not done.is_set():
            try:
                with open(f"{log}/{v:020d}.json", "rb") as f:
                    data = f.read()
            except FileNotFoundError:
                continue
            try:
                actions = [json.loads(line) for line in data.splitlines() if line.strip()]
            except ValueError:
                actions = []
            replayed.append(v)
            if len(actions) != 50:
                torn.append(v)
            v += 1

    _run_threads(writer, reader)
    assert committed == [True] * 1000
    assert replayed
    assert not torn, f"{len(torn)} of {len(replayed)} replayed commits torn"


def test_exactly_one_writer_wins_each_version(spark, tmp_path):
    """Two writers race ``_try_commit`` on a ``file:`` log for the same
    versions: exactly one gets True per version, and the commit file
    holds the winner's payload."""
    import json
    import os
    import threading

    log = tmp_path / "_delta_log"
    os.makedirs(log)
    versions = range(300)
    barrier = threading.Barrier(2, timeout=60)
    won: dict[str, list[bool]] = {"a": [], "b": []}

    def writer(name):
        for v in versions:
            barrier.wait()
            txn = [{"txn": {"appId": name, "version": v}}]
            won[name].append(delta_mod._try_commit(f"file://{log}", v, txn))

    _run_threads(lambda: writer("a"), lambda: writer("b"))
    double, lost, wrong = [], [], []
    for v in versions:
        winners = [n for n in won if won[n][v]]
        if len(winners) != 1:
            (double if winners else lost).append(v)
            continue
        with open(log / f"{v:020d}.json") as f:
            if [json.loads(line) for line in f] != [
                {"txn": {"appId": winners[0], "version": v}}
            ]:
                wrong.append(v)
    assert (double, lost, wrong) == ([], [], [])
    assert not [n for n in os.listdir(log) if n.endswith(".tmp")]


def test_concurrent_checkpoints_and_a_reader_do_not_fail(spark, tmp_path):
    """Two threads checkpoint one table over and over while a third
    replays it: every checkpoint and every ``_last_checkpoint`` rewrite
    is published whole, so no call raises."""
    import threading

    path = str(tmp_path / "tbl")
    delta_mod.write_delta(_rows(spark, [(0, 0)]), path)
    delta_mod.write_delta(_rows(spark, [(1, 1)]), path)
    done = threading.Event()
    finished, errors = [], []

    def checkpointer():
        try:
            for _ in range(40):
                delta_mod.checkpoint_delta(spark, path)
        except Exception as e:
            errors.append(repr(e))
        finally:
            finished.append(True)
            if len(finished) == 2:
                done.set()

    def reader():
        while not done.is_set():
            try:
                if delta_mod.delta_snapshot(spark, path).version != 1:
                    errors.append("wrong version")
            except Exception as e:
                errors.append(repr(e))

    _run_threads(checkpointer, checkpointer, reader)
    assert not errors, errors[:5]


def test_a_temp_file_in_the_log_keeps_the_cached_snapshot(spark, tmp_path):
    """The snapshot cache key holds only the files replay reads: a
    writer's temp file in ``_delta_log`` returns the cached snapshot."""
    path = str(tmp_path / "tbl")
    delta_mod.write_delta(_rows(spark, [(0, 0)]), path)
    snap = delta_mod.delta_snapshot(spark, path)
    open(f"{path}/_delta_log/.{1:020d}.json.0123abcd.tmp", "w").close()
    assert delta_mod.delta_snapshot(spark, path) is snap


CREATES = {
    "create_column_mapped": lambda spark, src, dst: delta_mod.write_delta_column_mapped(
        _rows(spark, [(0, 0)]), dst
    ),
    "clone": lambda spark, src, dst: delta_mod.clone_delta(spark, src, dst),
    "convert": lambda spark, src, dst: (
        _rows(spark, [(0, 0)]).write.parquet(dst),
        delta_mod.convert_to_delta(spark, dst),
    ),
}


@pytest.mark.parametrize("create", list(CREATES))
def test_a_create_that_loses_its_race_raises(spark, tmp_path, monkeypatch, create):
    """The version-0 creates commit through ``_commit``: when another
    writer creates the table first, each raises
    ``ConcurrentDeltaModificationError`` and leaves the winner's commit."""
    import json

    src = str(tmp_path / "src")
    delta_mod.write_delta(_rows(spark, [(0, 0)]), src)
    dst = str(tmp_path / "dst")
    real_try = delta_mod._try_commit
    with open(f"{src}/_delta_log/{0:020d}.json") as f:
        table = [a for a in map(json.loads, f) if "protocol" in a or "metaData" in a]
    winner = [{"txn": {"appId": "winner", "version": 0}}] + table

    def racing_try(log_dir, version, actions, operation=None):
        assert real_try(log_dir, version, winner)
        return real_try(log_dir, version, actions, operation)

    monkeypatch.setattr(delta_mod, "_try_commit", racing_try)
    with pytest.raises(delta_mod.ConcurrentDeltaModificationError):
        CREATES[create](spark, src, dst)
    assert delta_mod.delta_snapshot(spark, dst).app_versions == {"winner": 0}
