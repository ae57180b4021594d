"""Incremental aggregate maintenance from a delta change feed.

The lakehouse "materialized view refresh" primitive: instead of
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
"""

from __future__ import annotations

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


# --- Incrementally-maintained MinHash-LSH index ------------------------------
#
# The near-dup serving shape at 100 TB: the expensive part of LSH dedup
# is shingling + signatures over the TEXT; candidates and verification
# are cheap relational work over the (id, bucket) and (id, hs)
# relations. So those two relations ARE the index — persisted as
# parquet snapshots keyed by the source table's delta version — and a
# refresh after commits recomputes text work only for the CHANGED
# documents (churn-sized, from the change feed), while untouched docs'
# rows carry over by anti-join. The same versioned-snapshot contract as
# the persisted BM25 and IVF indexes, plus change-feed maintenance like
# refresh_agg.


def _lsh_meta_path(index_path: str) -> str:
    import os

    # NOT underscore-prefixed: Spark's file index treats _-prefixed
    # paths as hidden metadata and warns/ignores them on read
    return os.path.join(index_path, "meta")


def lsh_index_version(spark, index_path: str) -> int:
    """Latest source-table version the index at ``index_path`` covers."""
    row = spark.read.parquet(_lsh_meta_path(index_path)).collect()
    return max(r.table_version for r in row)


#: snapshot versions kept after a refresh (current + one rollback)
_LSH_RETAIN = 2


def _lsh_write_snapshot(
    spark,
    hs: DataFrame,
    buckets: DataFrame,
    index_path: str,
    table_version: int,
    retain: int = _LSH_RETAIN,
) -> None:
    import os

    snap = os.path.join(index_path, f"v{table_version}")
    hs.write.mode("overwrite").parquet(os.path.join(snap, "shingles"))
    buckets.write.mode("overwrite").parquet(os.path.join(snap, "buckets"))
    # meta written LAST: a crashed refresh leaves the old version live
    spark.createDataFrame(
        [(table_version,)], "table_version long"
    ).coalesce(1).write.mode("overwrite").parquet(_lsh_meta_path(index_path))
    _lsh_retain_snapshots(spark, index_path, table_version, retain)


def _lsh_retain_snapshots(
    spark, index_path: str, live_version: int, retain: int
) -> list[int]:
    """Retention AFTER the meta flip: each refresh writes a complete
    new v{N} snapshot (full shingle + bucket relations), so under a
    continuous stream the index directory would otherwise grow by one
    index-sized copy per micro-batch. Keeps the ``retain`` newest
    versions <= the live one (the live snapshot plus rollback
    headroom) and recursively deletes the rest through the Hadoop
    FileSystem (object-store-safe, like every probe in sources/fs.py).
    Versions newer than ``live_version`` — a concurrent refresh mid-
    write — are never touched. Returns the deleted version numbers."""
    import os
    import re

    from lakeapi_spark.sources.fs import delete_recursive, list_children

    versions = []
    for child, is_dir, _ in list_children(spark, index_path):
        m = re.fullmatch(r"v(\d+)", os.path.basename(child.rstrip("/")))
        if is_dir and m:
            versions.append((int(m.group(1)), child))
    keep = {v for v, _ in sorted(versions, reverse=True) if v <= live_version}
    keep = set(sorted(keep, reverse=True)[:max(1, retain)])
    dropped = []
    for v, child in versions:
        if v <= live_version and v not in keep:
            delete_recursive(spark, child)
            dropped.append(v)
    return sorted(dropped)


def _lsh_snapshot(spark, index_path: str) -> tuple[DataFrame, DataFrame, int]:
    import os

    v = lsh_index_version(spark, index_path)
    snap = os.path.join(index_path, f"v{v}")
    return (
        spark.read.parquet(os.path.join(snap, "shingles")),
        spark.read.parquet(os.path.join(snap, "buckets")),
        v,
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
    from lakeapi_spark.operators.dedup import hashed_shingles, minhash_buckets_numpy
    from lakeapi_spark.sources.delta import delta_snapshot, read_delta

    v = version if version is not None else delta_snapshot(spark, table_path).version
    docs = read_delta(spark, table_path, {"versionAsOf": str(v)}).select(
        F.col(id_col).alias("id"), F.col(text_col)
    )
    hs = hashed_shingles(docs, "id", text_col)
    _lsh_write_snapshot(
        spark, hs, minhash_buckets_numpy(hs), index_path, v
    )
    return v


def lsh_index_refresh(
    spark, table_path: str, index_path: str, id_col: str, text_col: str
) -> tuple[int, int]:
    """Advance the index to the table's latest version by change feed:
    the TOUCHED id set comes from ``delta_changes`` since the indexed
    version (CDF files when present, version diffs otherwise), touched
    docs' current text is re-read from the live snapshot with a
    broadcast semi-join (stats/partition file-skipping applies where
    the table is laid out by id), and only those docs pay shingle +
    signature cost. Untouched index rows carry over via a broadcast
    anti-join on the churn-sized touched set. Returns
    (new_version, n_touched).

    The snapshot rewrite is INDEX-sized (16-byte bucket rows + hashed
    shingle arrays), never corpus-text-sized; partitioning the bucket
    relation and rewriting only affected partitions is the next notch
    if index IO ever dominates — the text recompute is the cost that
    matters and it is churn-proportional. No-op (returns same version)
    when the table hasn't moved."""
    from lakeapi_spark.operators.dedup import hashed_shingles, minhash_buckets_numpy
    from lakeapi_spark.sources.delta import (
        delta_changes,
        delta_snapshot,
        read_delta,
    )

    old_hs, old_buckets, v0 = _lsh_snapshot(spark, index_path)
    latest = delta_snapshot(spark, table_path).version
    if latest <= v0:
        return v0, 0
    touched = (
        delta_changes(spark, table_path, v_from=v0, v_to=latest)
        .select(F.col(id_col).alias("id"))
        .distinct()
    )
    # Pin the re-read to versionAsOf=latest: a commit landing between
    # delta_snapshot() and the read would otherwise make the snapshot
    # record version `latest` while containing newer rows.
    current = read_delta(spark, table_path, {"versionAsOf": str(latest)}).select(
        F.col(id_col).alias("id"), F.col(text_col)
    )
    changed_docs = current.join(F.broadcast(touched), "id", "semi")
    new_hs = hashed_shingles(changed_docs, "id", text_col).persist()
    n_touched = touched.count()
    hs = old_hs.join(F.broadcast(touched), "id", "anti").unionByName(new_hs)
    buckets = old_buckets.join(F.broadcast(touched), "id", "anti").unionByName(
        minhash_buckets_numpy(new_hs)
    )
    _lsh_write_snapshot(spark, hs, buckets, index_path, latest)
    new_hs.unpersist()
    return latest, n_touched


# --- Incrementally-maintained BM25 index --------------------------------------
#
# Third leg of the maintained-index trilogy (LSH near-dup, IVF ANN,
# BM25 text search): the corpus-proportional cost of BM25 is
# tokenizing every document into postings; the postings are
# doc-decomposable and refresh from the change feed at churn cost, and
# the term relation re-derives from the MAINTAINED postings — an
# index-sized aggregation, never a corpus re-tokenize.


def bm25_index_version(spark, index_path: str) -> int:
    """Latest source-table version the BM25 index covers (shared meta
    contract with the LSH/IVF indexes)."""
    return lsh_index_version(spark, index_path)


def _bm25_tokenize(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Postings of ``docs`` — search.bm25_postings, the tokenize of the
    session index, so maintained scores match it and its SQL oracles."""
    from lakeapi_spark.operators.search import bm25_postings

    return bm25_postings(docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")))


def _bm25_write_snapshot(
    spark,
    postings: DataFrame,
    index_path: str,
    table_version: int,
    retain: int = _LSH_RETAIN,
) -> None:
    import os

    from lakeapi_spark.operators.search import bm25_terms

    snap = os.path.join(index_path, f"v{table_version}")
    # postings laid out BY TERM: a query's `__tok IN (...)` probe prunes
    # row groups via min/max stats — the serving-path access pattern
    (
        postings.repartitionByRange(F.col("__tok"))
        .sortWithinPartitions("__tok")
        .write.mode("overwrite")
        .parquet(os.path.join(snap, "postings"))
    )
    # the term relation re-derived from the maintained postings — an
    # index-sized agg, written alongside so serving never re-aggregates
    bm25_terms(spark.read.parquet(os.path.join(snap, "postings"))).write.mode(
        "overwrite"
    ).parquet(os.path.join(snap, "terms"))
    spark.createDataFrame(
        [(table_version,)], "table_version long"
    ).coalesce(1).write.mode("overwrite").parquet(_lsh_meta_path(index_path))
    _lsh_retain_snapshots(spark, index_path, table_version, retain)


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
    from lakeapi_spark.sources.delta import delta_snapshot, read_delta

    v = version if version is not None else delta_snapshot(spark, table_path).version
    docs = read_delta(spark, table_path, {"versionAsOf": str(v)}).select(
        id_col, text_col
    )
    _bm25_write_snapshot(spark, _bm25_tokenize(docs, id_col, text_col), index_path, v)
    return v


def bm25_index_refresh_delta(
    spark, table_path: str, index_path: str, id_col: str, text_col: str
) -> tuple[int, int]:
    """Advance the BM25 index to the table's latest version by change
    feed: touched ids from ``delta_changes`` since the indexed version,
    their CURRENT text re-read and tokenized (churn-sized), untouched
    postings carried over by broadcast anti-join; the term relation
    re-derives from the maintained postings inside the snapshot write.
    Deleted ids fall out naturally. No-op when the table hasn't moved.
    Returns (new_version, n_touched)."""
    import os

    from lakeapi_spark.sources.delta import (
        delta_changes,
        delta_snapshot,
        read_delta,
    )

    v0 = bm25_index_version(spark, index_path)
    latest = delta_snapshot(spark, table_path).version
    if latest <= v0:
        return v0, 0
    old_postings = spark.read.parquet(os.path.join(index_path, f"v{v0}", "postings"))
    touched = (
        delta_changes(spark, table_path, v_from=v0, v_to=latest)
        .select(F.col(id_col).alias("__id"))
        .distinct()
    )
    # versionAsOf pin: snapshot content must match the recorded meta
    # version even if a commit lands between the two calls.
    current = read_delta(spark, table_path, {"versionAsOf": str(latest)}).select(
        id_col, text_col
    )
    changed = current.join(
        F.broadcast(touched.withColumnRenamed("__id", id_col)), id_col, "semi"
    )
    n_touched = touched.count()
    postings = old_postings.join(F.broadcast(touched), "__id", "anti").unionByName(
        _bm25_tokenize(changed, id_col, text_col)
    )
    _bm25_write_snapshot(spark, postings, index_path, latest)
    return latest, n_touched


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
    import os

    from lakeapi_spark.operators.search import Bm25Index, Bm25Segment, bm25_scores

    snap = os.path.join(index_path, f"v{bm25_index_version(spark, index_path)}")
    seg = Bm25Segment(
        postings=spark.read.parquet(os.path.join(snap, "postings")),
        terms=spark.read.parquet(os.path.join(snap, "terms")),
    )
    return bm25_scores(Bm25Index((seg,)), search_text, k1, b, score_col)


# --- Incrementally-maintained IVF (ANN) index --------------------------------
#
# Same versioned-snapshot contract as the LSH index above (v{N} dirs,
# meta written last, retention after the flip), applied to the ANN
# serving index: the expensive part of IVF at 100 TB is assigning
# every corpus vector to its centroid; the inverted-list relation
# (id, v, nrm, cid) IS the index, and a refresh after delta commits
# re-assigns only the CHANGED vectors (churn-sized, from the change
# feed) against FROZEN build-time centroids — untouched rows carry
# over by anti-join, so served neighbors stay identical to a full
# rebuild (the centroids are data rows excluded from mutation, so a
# rebuild reseeds the same quantizer).


def ivf_index_version(spark, index_path: str) -> int:
    """Latest source-table version the IVF index covers (shared meta
    contract with the LSH index)."""
    return lsh_index_version(spark, index_path)


def _ivf_write_snapshot(
    spark,
    lists: DataFrame,
    cents: list[tuple[list[float], float]],
    index_path: str,
    table_version: int,
    retain: int = _LSH_RETAIN,
) -> None:
    import os

    snap = os.path.join(index_path, f"v{table_version}")
    # lists laid out BY centroid: range-partitioned + sorted so a
    # query's cid IN (...) probe prunes row groups via min/max stats
    (
        lists.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid")
        .write.mode("overwrite")
        .parquet(os.path.join(snap, "lists"))
    )
    spark.createDataFrame(
        [(i, c, n) for i, (c, n) in enumerate(cents)],
        "cid int, centroid array<double>, cnorm double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(snap, "centroids"))
    spark.createDataFrame(
        [(table_version,)], "table_version long"
    ).coalesce(1).write.mode("overwrite").parquet(_lsh_meta_path(index_path))
    _lsh_retain_snapshots(spark, index_path, table_version, retain)


def _ivf_snapshot(
    spark, index_path: str
) -> tuple[DataFrame, list[tuple[list[float], float]], int]:
    import os

    v = ivf_index_version(spark, index_path)
    snap = os.path.join(index_path, f"v{v}")
    lists = spark.read.parquet(os.path.join(snap, "lists"))
    crows = spark.read.parquet(os.path.join(snap, "centroids")).collect()
    cents = [
        ([float(x) for x in r.centroid], float(r.cnorm))
        for r in sorted(crows, key=lambda r: r.cid)
    ]
    return lists, cents, v


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
    from lakeapi_spark.operators.similarity import (
        assign_to_centroids,
        seeded_centroids,
    )
    from lakeapi_spark.sources.delta import delta_snapshot, read_delta

    v = version if version is not None else delta_snapshot(spark, table_path).version
    emb = read_delta(spark, table_path, {"versionAsOf": str(v)}).select(
        id_col, vec_col
    )
    cents = seeded_centroids(emb, id_col, vec_col, centroid_ids)
    lists = assign_to_centroids(emb, id_col, vec_col, cents)
    _ivf_write_snapshot(spark, lists, cents, index_path, v)
    return v


def ivf_index_refresh_delta(
    spark, table_path: str, index_path: str, id_col: str, vec_col: str
) -> tuple[int, int]:
    """Advance the IVF index to the table's latest version by change
    feed: touched ids from ``delta_changes`` since the indexed version,
    their CURRENT vectors re-read from the live snapshot and assigned
    against the FROZEN build-time centroids (the invariant that keeps
    refresh == rebuild: assignment is a pure function of vector and
    centroid set), untouched list rows carried over by a broadcast
    anti-join. Deleted ids fall out naturally — touched but absent
    from the snapshot. Assignment cost is churn-proportional; the
    snapshot rewrite is index-sized. No-op when the table hasn't
    moved. Returns (new_version, n_touched)."""
    from lakeapi_spark.operators.similarity import assign_to_centroids
    from lakeapi_spark.sources.delta import (
        delta_changes,
        delta_snapshot,
        read_delta,
    )

    old_lists, cents, v0 = _ivf_snapshot(spark, index_path)
    latest = delta_snapshot(spark, table_path).version
    if latest <= v0:
        return v0, 0
    touched = (
        delta_changes(spark, table_path, v_from=v0, v_to=latest)
        .select(F.col(id_col).alias("id"))
        .distinct()
    )
    # versionAsOf pin: same race guard as the BM25/LSH refreshers.
    current = read_delta(spark, table_path, {"versionAsOf": str(latest)}).select(
        id_col, vec_col
    )
    changed = current.join(
        F.broadcast(touched.withColumnRenamed("id", id_col)), id_col, "semi"
    )
    n_touched = touched.count()
    lists = old_lists.join(F.broadcast(touched), "id", "anti").unionByName(
        assign_to_centroids(changed, id_col, vec_col, cents)
    )
    _ivf_write_snapshot(spark, lists, cents, index_path, latest)
    return latest, n_touched


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

    lists, cents, _ = _ivf_snapshot(spark, index_path)
    return ivf_topk_indexed(
        IvfIndex(lists, cents), queries, id_col, vec_col, k, n_probe
    )


def lsh_index_pairs(spark, index_path: str, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs served FROM the index — identical relation to
    dedup.minhash_lsh_pairs over the indexed snapshot (same candidate
    equi-join on the band key, same exact-Jaccard verification over the
    stored hashed-shingle arrays), with zero text processing at query
    time."""
    hs, buckets, _ = _lsh_snapshot(spark, index_path)
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
