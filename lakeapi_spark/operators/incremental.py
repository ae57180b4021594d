"""Incremental maintenance from a delta change feed.

Aggregates. The lakehouse "materialized view refresh" primitive: instead of
recomputing ``GROUP BY`` aggregates over the whole table after every
commit, consume the table's change stream (sources/delta.py:
delta_changes — CDF files when present, version diffs otherwise) and
apply signed per-group deltas to the previously materialized state.
COUNT/SUM are self-maintainable: insert/update_postimage rows
contribute +1, delete/update_preimage rows −1, and a row whose group
key changed moves mass between groups for free because both images
carry their own keys.

Scale shape: the refresh cost is ONE partial-aggregated groupBy over
the CHANGE ROWS (proportional to churn, never table size) plus an
outer join against the materialized aggregate (|groups| rows, usually
broadcastable). Sums accumulate in DECIMAL so the incremental result
is bit-identical to a from-scratch recompute — the property that makes
the refresh verifiable (and this query oracle-checkable) instead of
"approximately equal".

Maintained indexes (MinHash-LSH near-dup, IVF ANN, BM25 text search).
An index is a set of parquet relations stored once per source-table
version, ``<index>/v{N}/<relation>``, plus a ``meta`` parquet naming
the live N. One store holds all three: its writer writes the relations
of v{N}, then ``meta`` (so a crash mid-write leaves the old version
live), then keeps the newest ``_RETAIN`` versions. A build derives the
relations from the table pinned at a version. A refresh advances by
change feed: it probes the latest version, takes the ids touched since
the indexed one from ``delta_changes``, re-reads those documents pinned
at the probed version, and writes every id-keyed relation as
``old ⋉̸ touched ∪ derive(changed)`` — text or vector work is
churn-sized, the snapshot rewrite index-sized, and deleted ids fall out
(touched, but absent from the re-read). An index owns only how it
derives its relations, their layout, and its relations not keyed by id.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: change-feed row kinds that add (+1) vs retract (-1) a row's mass
_ADDS = ("insert", "update_postimage")
_RETRACTS = ("delete", "update_preimage")


def cdf_agg_delta(
    changes: DataFrame, keys: list[str], sum_cols: list[str]
) -> DataFrame:
    """Signed per-group deltas from a change-feed frame: ``d_n`` (row
    count delta) and ``d_<col>`` (DECIMAL sum delta) per ``keys``
    group. ``changes`` must carry ``_change_type``."""
    sign = (
        F.when(F.col("_change_type").isin(*_ADDS), F.lit(1))
        .when(F.col("_change_type").isin(*_RETRACTS), F.lit(-1))
        .otherwise(F.lit(None))
    )
    aggs = [F.sum(sign).alias("d_n")]
    for c in sum_cols:
        aggs.append(
            F.sum(sign * F.col(c).cast("double").cast("decimal(28,10)")).alias(f"d_{c}")
        )
    return changes.groupBy(*keys).agg(*aggs)


def refresh_agg(
    agg0: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str,
    sum_cols: list[str],
) -> DataFrame:
    """Apply :func:`cdf_agg_delta` output to a materialized aggregate:
    full-outer join on the group keys (new groups appear, emptied
    groups drop via ``n > 0``), counts and DECIMAL sums add. ``agg0``
    must have ``count_col`` and one ``sum_<col>`` per ``sum_cols``."""
    zero = F.lit(0).cast("decimal(28,10)")
    joined = agg0.join(delta, keys, "full_outer")
    n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
    out = [F.col(k) for k in keys] + [n.alias(count_col)]
    for c in sum_cols:
        out.append(
            (
                F.coalesce(F.col(f"sum_{c}"), zero) + F.coalesce(F.col(f"d_{c}"), zero)
            ).alias(f"sum_{c}")
        )
    return joined.select(*out).filter(F.col(count_col) > 0)



# --- Maintained indexes: one store, one build, one refresh -------------------

#: snapshot versions kept after a refresh (current + one rollback)
_RETAIN = 2


def _meta_path(index_path: str) -> str:
    # NOT underscore-prefixed: Spark's file index treats _-prefixed
    # paths as hidden metadata and warns/ignores them on read
    return os.path.join(index_path, "meta")


def lsh_index_version(spark, index_path: str) -> int:
    """Latest source-table version the index at ``index_path`` covers."""
    row = spark.read.parquet(_meta_path(index_path)).collect()
    return max(r.table_version for r in row)


def _snapshot(spark, index_path: str) -> tuple[str, int]:
    """The store's reader: the live ``v{N}`` dir and N."""
    v = lsh_index_version(spark, index_path)
    return os.path.join(index_path, f"v{v}"), v


def _write(spark, index_path: str, version: int, relations: dict, layout: dict) -> None:
    """The store's writer: each of ``relations`` under ``v{version}/<name>``
    in order (a callable is given the snapshot dir, so it can derive from
    a relation written before it), a relation named in ``layout`` range-
    partitioned and sorted by that column so a probe on it prunes row
    groups via min/max stats; then ``meta``, LAST — a crashed write
    leaves the old version live; then retention."""
    snap = os.path.join(index_path, f"v{version}")
    for name, rel in relations.items():
        df = rel(snap) if callable(rel) else rel
        if name in layout:
            df = df.repartitionByRange(F.col(layout[name])).sortWithinPartitions(layout[name])
        df.write.mode("overwrite").parquet(os.path.join(snap, name))
    spark.createDataFrame(
        [(version,)], "table_version long"
    ).coalesce(1).write.mode("overwrite").parquet(_meta_path(index_path))
    _retain_snapshots(spark, index_path, version)


def _retain_snapshots(spark, index_path: str, live_version: int) -> None:
    """Retention AFTER the meta flip: each refresh writes a complete new
    v{N} snapshot, so under a continuous stream the index directory would
    otherwise grow by one index-sized copy per micro-batch. Keeps the
    ``_RETAIN`` newest versions <= the live one (the live snapshot plus
    rollback headroom) and recursively deletes the rest through the
    Hadoop FileSystem (object-store-safe, like every probe in
    sources/fs.py). Versions newer than ``live_version`` — a concurrent
    refresh mid-write — are never touched."""
    import re

    from lakeapi_spark.sources.fs import delete_recursive, list_children

    versions = []
    for child, is_dir, _ in list_children(spark, index_path):
        m = re.fullmatch(r"v(\d+)", os.path.basename(child.rstrip("/")))
        if is_dir and m:
            versions.append((int(m.group(1)), child))
    keep = sorted((v for v, _ in versions if v <= live_version), reverse=True)[:_RETAIN]
    for v, child in versions:
        if v <= live_version and v not in keep:
            delete_recursive(spark, child)


class _Index(NamedTuple):
    """What one index owns. ``project`` maps table rows to its documents,
    keyed by ``key``; ``derive(docs, old)`` maps documents to relations
    (``old`` is the snapshot dir a refresh advances from, None in a
    build), of which ``keyed`` are keyed by ``key``; ``layout`` maps a
    relation to the column :func:`_write` orders it by."""

    key: str
    project: Callable[[DataFrame], DataFrame]
    derive: Callable[[DataFrame, str | None], dict]
    keyed: tuple[str, ...]
    layout: dict = {}


def _build(spark, table_path: str, index_path: str, version: int | None, index: _Index) -> int:
    from lakeapi_spark.sources.delta import delta_snapshot, read_delta

    v = version if version is not None else delta_snapshot(spark, table_path).version
    docs = index.project(read_delta(spark, table_path, {"versionAsOf": str(v)}))
    _write(spark, index_path, v, index.derive(docs, None), index.layout)
    return v


def _refresh(
    spark, table_path: str, index_path: str, id_col: str, index: _Index
) -> tuple[int, int]:
    """The one change-feed refresh (module docstring). The touched set
    and the re-read documents are persisted for the refresh, so the
    version diff behind ``delta_changes`` runs once however many
    relations it feeds. Returns (new_version, n_touched); no-op when the
    table hasn't moved."""
    from lakeapi_spark.sources import delta  # delta_snapshot looked up per call

    old, v0 = _snapshot(spark, index_path)
    latest = delta.delta_snapshot(spark, table_path).version
    if latest <= v0:
        return v0, 0
    # Pin the re-read to versionAsOf=latest: a commit landing between the
    # probe and the read would otherwise make the snapshot record version
    # `latest` while containing newer rows.
    current = index.project(delta.read_delta(spark, table_path, {"versionAsOf": str(latest)}))
    touched = (
        delta.delta_changes(spark, table_path, v_from=v0, v_to=latest)
        .select(F.col(id_col).alias(index.key))
        .distinct()
        .persist()
    )
    changed = current.join(F.broadcast(touched), index.key, "semi").persist()
    try:
        n_touched = touched.count()
        relations = index.derive(changed, old)
        for name in index.keyed:
            relations[name] = (
                spark.read.parquet(os.path.join(old, name))
                .join(F.broadcast(touched), index.key, "anti")
                .unionByName(relations[name])
            )
        _write(spark, index_path, latest, relations, index.layout)
    finally:
        changed.unpersist()
        touched.unpersist()
    return latest, n_touched


# --- MinHash-LSH near-dup index ----------------------------------------------
#
# The expensive part of LSH dedup is shingling + signatures over the
# TEXT; candidates and verification are cheap relational work over the
# (id, hs) ``shingles`` and (id, bucket) ``buckets`` relations, so
# those two relations ARE the index.


def _lsh(id_col: str, text_col: str) -> _Index:
    from lakeapi_spark.operators.dedup import hashed_shingles, minhash_buckets_numpy

    def derive(docs: DataFrame, old: str | None) -> dict:
        hs = hashed_shingles(docs, "id", text_col)
        return {"shingles": hs, "buckets": minhash_buckets_numpy(hs)}

    return _Index(
        "id", lambda t: t.select(F.col(id_col).alias("id"), F.col(text_col)), derive,
        ("shingles", "buckets"),
    )


def lsh_index_build(
    spark,
    table_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    version: int | None = None,
) -> int:
    """Full build of the LSH index from the delta table's snapshot at
    ``version`` (latest when None). One pass of shingle + numpy
    signature/band work over the corpus — the cost every subsequent
    :func:`lsh_index_refresh` avoids. Returns the indexed version."""
    return _build(spark, table_path, index_path, version, _lsh(id_col, text_col))


def lsh_index_refresh(
    spark, table_path: str, index_path: str, id_col: str, text_col: str
) -> tuple[int, int]:
    """Advance the index to the table's latest version by change feed
    (:func:`_refresh`): only touched docs pay shingle + signature cost;
    untouched index rows carry over by a broadcast anti-join on the
    churn-sized touched set. The snapshot rewrite is INDEX-sized (16-byte
    bucket rows + hashed shingle arrays), never corpus-text-sized.
    Returns (new_version, n_touched); no-op (same version, 0) when the
    table hasn't moved."""
    return _refresh(spark, table_path, index_path, id_col, _lsh(id_col, text_col))


def lsh_index_pairs(spark, index_path: str, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs served FROM the index — identical relation to
    dedup.minhash_lsh_pairs over the indexed snapshot (same candidate
    equi-join on the band key, same exact-Jaccard verification over the
    stored hashed-shingle arrays), with zero text processing at query
    time."""
    snap, _ = _snapshot(spark, index_path)
    hs = spark.read.parquet(os.path.join(snap, "shingles"))
    buckets = spark.read.parquet(os.path.join(snap, "buckets"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    sa = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a"))
    sb = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - n_inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(n_inter / n_union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


# --- BM25 text-search index --------------------------------------------------
#
# The corpus-proportional cost of BM25 is tokenizing every document
# into postings; postings are doc-decomposable, so they refresh at churn
# cost, and the ``terms`` relation re-derives from the written postings
# — an index-sized aggregation, never a corpus re-tokenize.


def bm25_index_version(spark, index_path: str) -> int:
    """Latest source-table version the BM25 index covers (the store's
    one ``meta``, shared with the LSH/IVF indexes)."""
    return lsh_index_version(spark, index_path)


def _bm25(id_col: str, text_col: str) -> _Index:
    # search._rows + bm25_postings: the tokenize of the session index, so
    # maintained scores match it and its SQL oracles
    from lakeapi_spark.operators.search import _rows, bm25_postings, bm25_terms

    def derive(docs: DataFrame, old: str | None) -> dict:
        read = docs.sparkSession.read.parquet
        return {
            "postings": bm25_postings(docs),
            "terms": lambda snap: bm25_terms(read(os.path.join(snap, "postings"))),
        }

    return _Index(
        "__id", lambda t: _rows(t, id_col, text_col), derive, ("postings",),
        {"postings": "__tok"},  # a query's `__tok IN (...)` probe prunes
    )


def bm25_index_build_delta(
    spark,
    table_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    version: int | None = None,
) -> int:
    """Full build of the persisted BM25 index from the delta table's
    snapshot at ``version`` (latest when None) — the one corpus
    tokenize every subsequent refresh avoids. Returns the indexed
    version."""
    return _build(spark, table_path, index_path, version, _bm25(id_col, text_col))


def bm25_index_refresh_delta(
    spark, table_path: str, index_path: str, id_col: str, text_col: str
) -> tuple[int, int]:
    """Advance the BM25 index to the table's latest version by change
    feed (:func:`_refresh`): touched docs' CURRENT text is re-tokenized
    (churn-sized), untouched postings carry over by broadcast anti-join,
    and the term relation re-derives from the maintained postings before
    ``meta`` flips. No-op when the table hasn't moved. Returns
    (new_version, n_touched)."""
    return _refresh(spark, table_path, index_path, id_col, _bm25(id_col, text_col))


def bm25_index_scores_delta(
    spark,
    index_path: str,
    search_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "bm25_score",
) -> DataFrame:
    """BM25 scores served FROM the maintained index — identical
    relation to search.bm25_scores over the indexed snapshot (same
    formula, same rounding), with zero tokenize work at query time:
    the term filter prunes the term-sorted postings parquet."""
    from lakeapi_spark.operators.search import Bm25Index, Bm25Segment, bm25_scores

    snap, _ = _snapshot(spark, index_path)
    seg = Bm25Segment(
        postings=spark.read.parquet(os.path.join(snap, "postings")),
        terms=spark.read.parquet(os.path.join(snap, "terms")),
    )
    return bm25_scores(Bm25Index((seg,)), search_text, k1, b, score_col)


# --- IVF (ANN) index ---------------------------------------------------------
#
# The expensive part of IVF at 100 TB is assigning every corpus vector
# to its centroid; the inverted-list relation (id, v, nrm, cid) IS the
# index. A refresh re-assigns only the CHANGED vectors against the
# FROZEN build-time centroids, carried from snapshot to snapshot, so
# served neighbors stay identical to a full rebuild (the centroids are
# data rows excluded from mutation, so a rebuild reseeds the same
# quantizer).


def ivf_index_version(spark, index_path: str) -> int:
    """Latest source-table version the IVF index covers (the store's one
    ``meta``, shared with the LSH/BM25 indexes)."""
    return lsh_index_version(spark, index_path)


def _centroids(spark, snap: str) -> list[tuple[list[float], float]]:
    rows = spark.read.parquet(os.path.join(snap, "centroids")).collect()
    return [
        ([float(x) for x in r.centroid], float(r.cnorm))
        for r in sorted(rows, key=lambda r: r.cid)
    ]


def _ivf(id_col: str, vec_col: str, centroid_ids: list[int] | None = None) -> _Index:
    from lakeapi_spark.operators.similarity import assign_to_centroids, seeded_centroids

    def derive(docs: DataFrame, old: str | None) -> dict:
        spark = docs.sparkSession
        if old is None:
            cents = seeded_centroids(docs, "id", vec_col, centroid_ids)
        else:
            cents = _centroids(spark, old)
        return {
            "lists": assign_to_centroids(docs, "id", vec_col, cents),
            "centroids": spark.createDataFrame(
                [(i, c, n) for i, (c, n) in enumerate(cents)],
                "cid int, centroid array<double>, cnorm double",
            ).coalesce(1),
        }

    return _Index(
        "id", lambda t: t.select(F.col(id_col).alias("id"), F.col(vec_col)), derive,
        ("lists",), {"lists": "cid"},  # a query's `cid IN (...)` probe prunes
    )


def ivf_index_build_delta(
    spark,
    table_path: str,
    index_path: str,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    version: int | None = None,
) -> int:
    """Full build of the persisted IVF index from the delta table's
    snapshot at ``version`` (latest when None): seed the quantizer,
    assign every vector once, write the inverted lists + centroid
    sidecar under v{N}. Returns the indexed version."""
    return _build(spark, table_path, index_path, version, _ivf(id_col, vec_col, centroid_ids))


def ivf_index_refresh_delta(
    spark, table_path: str, index_path: str, id_col: str, vec_col: str
) -> tuple[int, int]:
    """Advance the IVF index to the table's latest version by change
    feed (:func:`_refresh`): touched ids' CURRENT vectors are assigned
    against the FROZEN build-time centroids (the invariant that keeps
    refresh == rebuild: assignment is a pure function of vector and
    centroid set), untouched list rows carry over by a broadcast
    anti-join. Assignment cost is churn-proportional; the snapshot
    rewrite is index-sized. No-op when the table hasn't moved. Returns
    (new_version, n_touched)."""
    return _refresh(spark, table_path, index_path, id_col, _ivf(id_col, vec_col))


def ivf_index_topk_delta(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k served FROM the maintained index — identical relation
    to similarity.ivf_topk_indexed over the indexed snapshot (same
    quantizer routing, same rounded cosine, same tiebreaks), with zero
    corpus assignment work at query time."""
    from lakeapi_spark.operators.similarity import IvfIndex, ivf_topk_indexed

    snap, _ = _snapshot(spark, index_path)
    lists = spark.read.parquet(os.path.join(snap, "lists"))
    return ivf_topk_indexed(
        IvfIndex(lists, _centroids(spark, snap)), queries, id_col, vec_col, k, n_probe
    )
