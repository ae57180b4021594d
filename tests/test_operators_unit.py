"""Operator-level unit tests (the reference's per-operator golden tests,
SURVEY §5, re-expressed against in-memory fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeapi_spark.operators.filters import (
    FilterArityError,
    combi_filter,
    filter_expr,
    normalize_param_name,
    split_param_postfix,
)
from lakeapi_spark.operators.pipeline import QueryRequest, apply_query, is_hidden_col
from lakeapi_spark.operators.search import SearchTooShortError, search, tf_search
from lakeapi_spark.operators.nearby import nearby


@pytest.fixture(scope="module")
def fruits(spark):
    # the reference's 7-row workhorse fixture (create_test_data.py:80-104)
    rows = [
        (1, "banana", 10, "beetle"),
        (2, "apple", 20, "audi"),
        (3, "ananas", 30, "lamborghini"),
        (4, "apple", 40, "fiat"),
        (5, "banana", 50, "audi"),
        (0, None, 60, "beetle"),
        (9, "kiwi", 70, None),
    ]
    return spark.createDataFrame(rows, ["A", "fruits", "B", "cars"])


def _vals(df, col):
    return sorted(r[col] for r in df.collect())


def test_eq_null_aware(fruits):
    assert _vals(fruits.filter(filter_expr("fruits", "=", None)), "A") == [0]
    assert _vals(fruits.filter(filter_expr("fruits", "<>", None)), "A") == [1, 2, 3, 4, 5, 9]


def test_in_not_in(fruits):
    assert _vals(fruits.filter(filter_expr("fruits", "in", ["apple", "kiwi"])), "A") == [2, 4, 9]
    # NOT IN keeps null-fruit row out (SQL three-valued logic, same as engines)
    assert _vals(fruits.filter(filter_expr("fruits", "not in", ["apple"])), "A") == [1, 3, 5, 9]


def test_between_and_arity(fruits):
    assert _vals(fruits.filter(filter_expr("B", "between", [20, 40])), "A") == [2, 3, 4]
    assert _vals(fruits.filter(filter_expr("B", "not between", [20, 40])), "A") == [0, 1, 5, 9]
    with pytest.raises(FilterArityError):
        filter_expr("B", "between", [1])


def test_contains_startswith(fruits):
    assert _vals(fruits.filter(filter_expr("fruits", "contains", "nan")), "A") == [1, 3, 5]
    assert _vals(fruits.filter(filter_expr("fruits", "startswith", "a")), "A") == [2, 3, 4]
    assert _vals(fruits.filter(filter_expr("fruits", "not contains", "nan")), "A") == [2, 4, 9]


def test_has_array(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "c"]), (3, [])], ["id", "xs"]
    )
    assert _vals(df.filter(filter_expr("xs", "has", "b")), "id") == [1, 2]


def test_combi_or_of_ands(fruits):
    cond = combi_filter([{"fruits": "banana", "cars": "beetle"}, {"fruits": "apple", "cars": "fiat"}])
    assert _vals(fruits.filter(cond), "A") == [1, 4]


def test_combi_null_aware(fruits):
    cond = combi_filter([{"cars": None}])
    assert _vals(fruits.filter(cond), "A") == [9]


def test_param_name_routing():
    assert normalize_param_name("Super Name_") == "super_name_"
    assert split_param_postfix("b_gte", ["B"]) == ("B", ">=")
    assert split_param_postfix("fruits_not_contains", ["fruits"]) == ("fruits", "not contains")
    assert split_param_postfix("fruits", ["fruits"]) == ("fruits", "=")
    with pytest.raises(KeyError):
        split_param_postfix("nope_gt", ["fruits"])


def test_hidden_cols():
    assert is_hidden_col("_private")
    assert is_hidden_col("cars_md5_prefix_2")
    assert is_hidden_col("cars_md5_mod_27")
    assert is_hidden_col("name_xxhash64_prefix_4")
    assert not is_hidden_col("cars")


def test_pipeline_hidden_col_excluded(spark, fruits):
    df = fruits.withColumn("cars_md5_prefix_2", F.substring(F.md5("cars"), 1, 2))
    out = apply_query(df, QueryRequest())
    assert "cars_md5_prefix_2" not in out.columns


def test_pipeline_distinct_sort_offset_limit(fruits):
    req = QueryRequest(
        select=[("fruits", None)],
        distinct=True,
        sortby=[("fruits", "asc")],
        offset=1,
        limit=2,
    )
    out = [r.fruits for r in apply_query(fruits, req).collect()]
    # nulls first (duckdb default_null_order parity): [None, ananas, apple, banana, kiwi]
    assert out == ["ananas", "apple"]


def test_search_contract(spark):
    # tests/test_search.py contract: desc scores, every hit matches >=1 term
    df = spark.createDataFrame(
        [(1, "spark rocks"), (2, "sparkling window pane"), (3, "nothing here")],
        ["id", "t"],
    )
    out = search(df, ["t"], "spark window").collect()
    scores = [r.search_score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert [r.id for r in out] == [2, 1]
    with pytest.raises(SearchTooShortError):
        search(df, ["t"], "ab")


def test_tf_search_counts_term_frequency(spark):
    df = spark.createDataFrame([(1, "x spark spark y"), (2, "spark")], ["id", "t"])
    out = {r.id: r.search_score for r in tf_search(df, "id", "t", "spark xyz").collect()}
    assert out == {1: 2, 2: 1}


def test_bm25_ranking_properties(spark):
    from lakeapi_spark.operators.search import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark spark spark"),           # high tf, short doc
            (2, "spark and a lot of other words here making this doc long"),
            (3, "no match at all"),
            (4, "spark spark"),
        ],
        ["id", "t"],
    )
    out = {r.id: r.bm25_score for r in bm25_search(df, "id", "t", "spark").collect()}
    assert 3 not in out                      # non-matching docs are dropped
    assert out[1] > out[4] > out[2]          # more hits win; short docs beat long at equal idf
    assert all(s > 0 for s in out.values())


def test_bm25_index_matches_adhoc(spark, sf_dir):
    """The persisted-index path must produce byte-identical scores to the
    per-query corpus aggregation it replaces."""
    from lakeapi_spark.catalog import table
    from lakeapi_spark.operators.search import bm25_scores, bm25_search, build_bm25_index

    docs = table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs, "doc_id", "text")
    try:
        sizes = []
        for text in ("spark window", "delta lake table", "zzzz"):
            adhoc = {
                r.doc_id: r.bm25_score
                for r in bm25_search(docs, "doc_id", "text", text).collect()
            }
            indexed = {r["__id"]: r.bm25_score for r in bm25_scores(idx, text).collect()}
            assert indexed == adhoc
            sizes.append(len(indexed))
        assert sizes[0] > 0 and sizes[-1] == 0  # no term matches: empty, no error
    finally:
        idx.unpersist()


def test_bm25_scores_broadcast_only_when_matching_set_fits(spark):
    """The scores carry a broadcast hint only while sum(df) rows, the bound
    on the matching set, fit the session's broadcast threshold."""
    from lakeapi_spark.operators.search import bm25_scores, build_bm25_index

    idx = build_bm25_index(
        spark.createDataFrame([(i, "spark window") for i in range(50)], ["id", "t"]), "id", "t"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)

    def hinted() -> bool:
        return "ResolvedHint" in bm25_scores(idx, "spark")._jdf.queryExecution().analyzed().toString()

    try:
        assert hinted()
        spark.conf.set(key, "1000")  # 50 rows of (id, score) do not fit
        assert not hinted()
        spark.conf.set(key, "-1")
        assert not hinted()
    finally:
        spark.conf.set(key, default)
        idx.unpersist()


def test_bm25_cache_keyed_by_version(spark):
    from lakeapi_spark.operators.search import _BM25_CACHE, bm25_index_for

    df = spark.createDataFrame([(1, "spark")], ["id", "t"])
    try:
        i1 = bm25_index_for(df, "id", "t", key=("tbl", 100))
        assert bm25_index_for(df, "id", "t", key=("tbl", 100)) is i1  # memoized
        i2 = bm25_index_for(df, "id", "t", key=("tbl", 200))  # new version
        assert i2 is not i1
        assert not any(
            k[0] == "tbl" and k[1] == 100 for k in _BM25_CACHE
        )  # stale version evicted
    finally:
        for k in [k for k in _BM25_CACHE if k[0] == "tbl"]:
            _BM25_CACHE.pop(k).unpersist()


def test_latest_modification_tracks_writes(spark, tmp_path):
    from lakeapi_spark.sources.fs import latest_modification, list_children

    d = tmp_path / "tbl"
    spark.createDataFrame([(1,)], ["x"]).write.mode("overwrite").parquet(str(d))
    m1 = latest_modification(spark, str(d))
    assert m1 > 0
    import time

    time.sleep(1.1)
    spark.createDataFrame([(2,)], ["x"]).write.mode("overwrite").parquet(str(d))
    assert latest_modification(spark, str(d)) > m1
    assert any(p.endswith(".parquet") for p, _, _ in list_children(spark, str(d)))


def test_nearby_radius_and_order(spark):
    df = spark.createDataFrame(
        [(1, 46.70, 8.60), (2, 46.75, 8.70), (3, 45.00, 11.00)],
        ["id", "lat", "lon"],
    )
    out = nearby(df, "lat", "lon", lat=46.7, lon=8.6, distance_m=20000).collect()
    assert [r.id for r in out] == [1, 2]  # ascending distance
    assert out[0].distance_m < 1.0
    assert 0 < out[1].distance_m <= 20000


def test_jsonify_complex(spark):
    df = spark.createDataFrame([(1, ("bob", 4), ["c", "d"])], ["id", "p", "v"])
    out = apply_query(df, QueryRequest(jsonify_complex=True)).collect()[0]
    assert out.p == '{"_1":"bob","_2":4}'
    assert out.v == '["c","d"]'


def test_range_join_binned_edges(spark):
    from lakeapi_spark.operators.joins import range_join_binned

    facts = spark.createDataFrame([(i, float(v)) for i, v in enumerate([0, 99, 100, 150, 199, 200, 500])], ["id", "v"])
    ranges = spark.createDataFrame([("a", 0.0, 100.0), ("b", 100.0, 200.0)], ["band", "lo", "hi"])
    out = {(r.id, r.band) for r in range_join_binned(facts, "v", ranges, "lo", "hi", bin_width=30.0).collect()}
    # [lo, hi): 100 belongs to b, 200 matches nothing, 500 matches nothing
    assert out == {(0, "a"), (1, "a"), (2, "b"), (3, "b"), (4, "b")}


def test_hash_split_disjoint_and_stable(spark):
    from lakeapi_spark.operators.sampling import hash_split

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    train, ev = hash_split(df, "k", 10, 2)
    t = {r.k for r in train.collect()}
    e = {r.k for r in ev.collect()}
    assert t.isdisjoint(e) and len(t) + len(e) == 1000
    assert 100 < len(e) < 300  # ~20%
    # stability across partitioning
    e2 = {r.k for r in hash_split(df.repartition(7), "k", 10, 2)[1].collect()}
    assert e == e2


def test_count_distinct_skew_safe_matches_builtin(spark):
    from lakeapi_spark.operators.skew import count_distinct_skew_safe

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 5), ("b", 5), ("c", 9)], ["k", "v"]
    )
    out = {r.k: r.n_distinct for r in count_distinct_skew_safe(df, ["k"], "v").collect()}
    assert out == {"a": 2, "b": 1, "c": 1}


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The 100 TB path for distinct counting is the HLL++ sketch
    (mergeable map-side partials, no exact-distinct shuffle). Contract:
    within the configured relative error of the exact count, stable
    across partitionings."""
    from pyspark.sql import functions as F

    from lakeapi_spark.catalog import table

    o = table(spark, sf_dir, "orders")
    exact = o.select(F.count_distinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05
    approx2 = o.repartition(7).select(
        F.approx_count_distinct("o_custkey", rsd=0.02)
    ).first()[0]
    assert approx == approx2  # sketch is deterministic for a fixed rsd


def test_percentile_approx_close_to_exact(spark, sf_dir):
    """approx_percentile (KLL-style mergeable sketch) vs the exact
    holistic percentile: rank error bounded by 1/accuracy."""
    from pyspark.sql import functions as F

    from lakeapi_spark.catalog import table

    e = table(spark, sf_dir, "events")
    exact = e.select(F.expr("percentile(value, 0.95)")).first()[0]
    approx = e.select(F.expr("approx_percentile(value, 0.95, 10000)")).first()[0]
    lo, hi = e.selectExpr(
        "percentile(value, 0.945)", "percentile(value, 0.955)"
    ).first()
    assert lo <= approx <= hi, (exact, approx, lo, hi)


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics (inner equi-join on a
    skewed key), only the partitioning."""
    from lakeapi_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(5000)] + [("cold", i) for i in range(10)],
        ["k", "v"],
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C"), ("miss", "M")], ["k", "tag"])
    got = salted_join(big, small, "k", salt=4)
    assert got.count() == 5010
    tags = {r.tag for r in got.select("tag").distinct().collect()}
    assert tags == {"H", "C"}
    plain = big.join(small, "k")
    assert got.orderBy("k", "v").collect() == plain.orderBy("k", "v").collect()


def test_cogroup_apply_in_pandas_matches_join(spark):
    """Cogrouped applyInPandas — the escape hatch for per-key logic that
    needs BOTH sides' rows in one pandas frame (custom as-of merges,
    per-entity reconciliation). Contract check: a pandas implementation
    of 'latest click value per user joined to purchase count' matches
    the relational plan. Arrow-batched per key group; state never
    crosses keys, so it shards like any keyed shuffle at scale."""
    import pandas as pd

    clicks = spark.createDataFrame(
        [(1, 10.0, 1), (1, 20.0, 3), (2, 5.0, 2)], ["user_id", "value", "ts"]
    )
    purchases = spark.createDataFrame(
        [(1, 100, 2), (1, 101, 4), (3, 102, 1)], ["user_id", "order_id", "ts"]
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = int(left["user_id"].iloc[0]) if len(left) else int(right["user_id"].iloc[0])
        latest = (
            float(left.sort_values("ts")["value"].iloc[-1]) if len(left) else None
        )
        return pd.DataFrame(
            {"user_id": [uid], "latest_click": [latest], "n_purchases": [len(right)]}
        )

    got = {
        (r.user_id, r.latest_click, r.n_purchases)
        for r in clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(merge, "user_id long, latest_click double, n_purchases long")
        .collect()
    }
    assert got == {(1, 20.0, 2), (2, 5.0, 0), (3, None, 1)}


def test_refresh_after_mutation_under_serving(spark, tmp_path):
    """The reference serves while fixtures mutate underneath
    (test_datamove.py:16-42). Spark caches file listings per path —
    after an overwrite, refreshByPath invalidates the stale listing and
    the next query sees the new data (no restart, no stale reads)."""
    path = str(tmp_path / "moving")
    spark.range(0, 10).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.count() == 10
    spark.range(0, 25).write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 25


def test_concurrent_queries_stay_interactive(spark, sf_dir):
    """Parity with the reference's concurrency assertion
    (test_performance.py:64-75): overlapping requests on one warm
    session each stay within the interactive bound. 16 threads x a
    point-lookup-ish query; the JVM schedules concurrent jobs without
    head-of-line blocking."""
    import concurrent.futures as cf
    import time

    from lakeapi_spark.queries import QUERIES

    build = QUERIES["sort_limit_topk"].build
    build(spark, sf_dir).collect()  # warm

    def one():
        s = time.time()
        build(spark, sf_dir).collect()
        return time.time() - s

    with cf.ThreadPoolExecutor(max_workers=16) as ex:
        times = list(ex.map(lambda _: one(), range(32)))
    assert max(times) < 3.0, sorted(times)[-3:]


def test_operators_tolerate_empty_input(spark):
    """Empty partitions/tables are routine at 100 TB (pruned scans,
    filtered micro-batches) — core operators must return empty, typed
    results, not throw."""
    from lakeapi_spark.operators.dedup import (
        dup_clusters,
        exact_dedup_keepers,
        minhash_lsh_pairs,
        simhash,
    )
    from lakeapi_spark.operators.sampling import hash_sample

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup_keepers(empty_docs, "doc_id", "text").count() == 0
    assert simhash(empty_docs, "doc_id", "text").count() == 0
    assert minhash_lsh_pairs(empty_docs, "doc_id", "text").count() == 0
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dup_clusters(empty_pairs).count() == 0
    assert hash_sample(empty_docs, "doc_id", 10, 2).count() == 0


def test_chunk_documents_differential(spark):
    """chunk_documents vs a plain-Python reference across edge-case
    lengths (empty, 1 token, exactly chunk, chunk+1, stride multiples,
    long) and parameter corners (overlap 0, chunk 1)."""
    import random

    from lakeapi_spark.operators.text import chunk_documents

    def ref(text, chunk, overlap):
        toks = text.strip().lower().split()
        stride = chunk - overlap
        out = []
        for idx, s in enumerate(range(0, len(toks), stride)):
            window = toks[s : s + chunk]
            out.append((idx, len(window), " ".join(window)))
        return out

    rng = random.Random(99)
    lengths = [0, 1, 2, 15, 16, 17, 47, 48, 49, 64, 65, 100, 333]
    docs = [
        (i, " ".join(f"w{rng.randrange(50)}" for _ in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for chunk, overlap in [(16, 4), (16, 0), (1, 0), (64, 16)]:
        got = {}
        for r in chunk_documents(df, "doc_id", "text", chunk, overlap).collect():
            got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens, r.chunk_text))
        for doc_id, text in docs:
            expect = ref(text, chunk, overlap)
            assert sorted(got.get(doc_id, [])) == expect, (doc_id, chunk, overlap)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=8)


def test_pack_sequences_invariants(spark):
    """Packing is a deterministic greedy layout per shard: offsets are
    in [0, seq_len), positions advance by exactly n_tokens in stable id
    order, and the assignment is invariant under repartitioning (it is
    a pure function of (id, text))."""
    import random

    from lakeapi_spark.operators.packing import pack_sequences, packing_summary

    rng = random.Random(7)
    docs = [
        (i, " ".join(f"w{rng.randrange(40)}" for _ in range(rng.randrange(0, 90))))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    seq_len = 64
    packed = pack_sequences(df, "doc_id", "text", seq_len=seq_len, n_shards=4)
    rows = sorted(packed.collect(), key=lambda r: (r.shard, r.id))

    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.seq_offset < seq_len
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1, "hash sharding should spread docs"
    for shard_rows in by_shard.values():
        pos = 0
        for r in shard_rows:
            assert r.seq_index * seq_len + r.seq_offset == pos, r
            pos += r.n_tokens

    # repartition invariance: same assignment from a different layout
    packed2 = pack_sequences(
        df.repartition(13), "doc_id", "text", seq_len=seq_len, n_shards=4
    )
    assert sorted(map(tuple, packed2.collect())) == sorted(map(tuple, rows))

    # summary never over-fills a window and accounts every started doc
    summary = {(r.shard, r.seq_index): r for r in packing_summary(packed, seq_len).collect()}
    for (shard, seq_index), s in summary.items():
        # 0 tokens is legal: an empty doc still "starts" in a window
        assert 0 <= s.tokens_started <= seq_len
    assert sum(s.n_docs for s in summary.values()) == sum(
        1 for r in rows if r.n_tokens >= 0
    )


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """The packing plan must contain exactly ONE wide exchange (the
    shard hash-partitioning) — a global-order spelling would show a
    single-partition exchange instead."""
    from lakeapi_spark.operators.packing import pack_sequences
    from lakeapi_spark.catalog import table as cat_table

    d = cat_table(spark, sf_dir, "documents")
    plan = (
        pack_sequences(d, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    wides = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln and "Reused" not in ln
    ]
    assert len(wides) == 1, wides
    assert "SinglePartition" not in wides[0]


def test_shuffle_shard_deterministic_and_balanced(spark):
    """shuffle_shard: layout is a pure function of (seed, key) —
    identical across partitionings; positions are contiguous 1..n per
    shard; a different seed permutes the order."""
    from lakeapi_spark.operators.sampling import shuffle_shard

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = shuffle_shard(df, "doc_id", n_shards=8, seed=42).collect()
    b = shuffle_shard(df.repartition(7), "doc_id", n_shards=8, seed=42).collect()
    key = lambda rows: sorted((r.doc_id, r.shard, r.shard_pos) for r in rows)
    assert key(a) == key(b)
    assert {r.shard for r in a} == set(range(8))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    c = shuffle_shard(df, "doc_id", n_shards=8, seed=43).collect()
    assert key(a) != key(c)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        shuffle_shard(df, "doc_id", n_shards=0)


def test_unigram_logprob_known_values(spark):
    """Hand-computed corpus: tokens a:2 b:2 c:1, total 5."""
    import math

    from lakeapi_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a A  b"), (2, "b c"), (3, "   ")], ["doc_id", "text"]
    )
    out = {r.doc_id: (r.n_tokens, r.avg_logprob) for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}  # token-less doc drops out
    lp = lambda n: round(math.log(n / 5), 6)
    assert out[1] == (3, round((lp(2) + lp(2) + lp(2)) / 3, 4))
    assert out[2] == (2, round((lp(2) + lp(1)) / 2, 4))


def test_dsir_importance_ranks_target_like_docs(spark):
    """DSIR semantics on planted vocabularies: a raw doc written in the
    TARGET domain's vocabulary must score a positive mean log ratio
    (keep=1) and strictly above a noise-vocabulary doc (keep=0); the
    weights are deterministic across runs."""
    from lakeapi_spark.operators.sampling import dsir_importance

    target_text = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    noise_text = "zulu yankee xray whiskey victor uniform tango sierra quebec papa"
    rows = []
    for i in range(10):  # the target domain
        rows.append((i, target_text, "tgt"))
    for i in range(10, 30):  # raw noise
        rows.append((i, noise_text, "raw"))
    rows.append((100, target_text, "raw"))  # target-like raw doc
    df = spark.createDataFrame(rows, ["doc_id", "text", "domain"])

    handles = []
    out = {
        r.id: (r.logw_mean, r.keep, r.n_grams)
        for r in dsir_importance(
            df, "doc_id", "text", "domain = 'tgt'", buckets=64,
            cache_handles=handles,
        ).collect()
    }
    assert out[100][1] == 1 and out[100][0] > 0
    assert out[10][1] == 0 and out[10][0] < 0
    assert out[100][0] > out[10][0]
    assert out[100][2] == 9  # 10 tokens -> 9 bigram occurrences

    rerun = {
        r.id: (r.logw_mean, r.keep, r.n_grams)
        for r in dsir_importance(
            df, "doc_id", "text", "domain = 'tgt'", buckets=64,
            cache_handles=handles,
        ).collect()
    }
    assert rerun == out
    for h in handles:
        h.unpersist()


def test_dsir_gram_persist_storage_level(spark):
    """The tokenize-once gram relation defaults to DISK_ONLY (at corpus
    scale it is ~corpus-sized — it must not evict executor working
    memory), and the storage_level parameter overrides it."""
    from pyspark import StorageLevel

    from lakeapi_spark.operators.sampling import dsir_importance

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "tgt" if i < 2 else "raw") for i in range(6)],
        ["doc_id", "text", "domain"],
    )
    for want, kwargs in [
        (StorageLevel.DISK_ONLY, {}),
        (StorageLevel.MEMORY_AND_DISK, {"storage_level": StorageLevel.MEMORY_AND_DISK}),
    ]:
        handles = []
        dsir_importance(
            df, "doc_id", "text", "domain = 'tgt'", buckets=16,
            cache_handles=handles, **kwargs,
        ).collect()
        assert len(handles) == 1
        assert handles[0].storageLevel == want, (kwargs, handles[0].storageLevel)
        handles[0].unpersist()


def test_quota_sample_caps_and_reproduces(spark):
    """quota_sample: every group capped at quota, under-quota groups
    kept whole, membership identical across partitionings."""
    from lakeapi_spark.operators.sampling import quota_sample

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "g"])
    a = quota_sample(df, "k", "g", 25).collect()
    counts = {}
    for r in a:
        counts[r.g] = counts.get(r.g, 0) + 1
    assert counts == {"big": 25, "small": 20}  # small group is under quota
    b = quota_sample(df.repartition(13), "k", "g", 25).collect()
    assert sorted((r.k, r.g) for r in a) == sorted((r.k, r.g) for r in b)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        quota_sample(df, "k", "g", 0)


def test_word_id_export_known_ids(spark):
    """Hand-checked vocabulary ranking and id sequence: counts a:3 b:2
    c:1 -> ids a=0 b=1 c=2; vocab_size=2 makes c OOV (-1)."""
    import hashlib

    from lakeapi_spark.operators.text import word_id_export

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "c b A")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_oov, r.ids_md5)
        for r in word_id_export(df, "doc_id", "text", vocab_size=2).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (3, 0, md5("0 1 0"))
    assert out[2] == (3, 1, md5("-1 1 0"))


@pytest.mark.soak
def test_full_pipeline_chain_composes(spark, sf_dir):
    """End-to-end composition smoke: curation verdicts -> keep set ->
    per-language quota -> deterministic shuffle+shard -> sequence
    packing. Invariants: each stage only narrows or preserves the doc
    set; the final layout is bit-identical across two runs (the whole
    chain is a pure function of the data)."""
    from lakeapi_spark.catalog import table
    from lakeapi_spark.operators.packing import pack_sequences
    from lakeapi_spark.operators.sampling import quota_sample, shuffle_shard
    from lakeapi_spark.queries import QUERIES

    def run():
        verdicts = QUERIES["curation_verdicts"].build(spark, sf_dir)
        kept_ids = verdicts.filter(F.col("keep")).select("doc_id")
        docs = table(spark, sf_dir, "documents").join(kept_ids, "doc_id")
        quota = quota_sample(docs, "doc_id", "lang", quota=40)
        shards = shuffle_shard(quota, "doc_id", n_shards=4, seed=7)
        packed = pack_sequences(quota, "doc_id", "text", seq_len=128, n_shards=4)
        return (
            {r.doc_id for r in kept_ids.collect()},
            {(r.doc_id, r.lang) for r in quota.collect()},
            sorted((r.doc_id, r.shard, r.shard_pos) for r in shards.collect()),
            sorted((r.id, r.shard, r.seq_index, r.seq_offset) for r in packed.collect()),
        )

    kept, quota, shards, packed = run()
    assert 0 < len(quota) <= len(kept)
    assert {d for d, _ in quota} <= kept          # quota only narrows
    assert {d for d, _, _ in shards} == {d for d, _ in quota}
    assert {d for d, _, _, _ in packed} == {d for d, _ in quota}
    # per-lang cap honored
    by_lang = {}
    for _, lang in quota:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert max(by_lang.values()) <= 40
    # full determinism of the chain
    kept2, quota2, shards2, packed2 = run()
    assert (kept, quota, shards, packed) == (kept2, quota2, shards2, packed2)


def test_hybrid_search_keeps_candidates_without_embeddings(spark):
    """A BM25 candidate with no embedding row must stay in the ranking
    (cos_sim null, dense contribution 0) — dropping the best lexical
    hit because its vector hasn't been backfilled yet would be a wrong
    ranking, not a degraded one."""
    from lakeapi_spark.operators.search import build_bm25_index, hybrid_search

    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark window"), (3, "unrelated words")],
        ["id", "t"],
    )
    # doc 1 (the strongest lexical hit) has NO embedding row
    emb = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.0, 1.0])], ["id", "embedding"]
    ).select("id", F.col("embedding").cast("array<float>").alias("embedding"))
    idx = build_bm25_index(docs, "id", "t")
    try:
        out = {
            r.id: (r.cos_sim, r.hybrid_score)
            for r in hybrid_search(
                idx, emb, "id", "embedding", "spark window", [1.0, 0.0], k=10
            ).collect()
        }
        assert 1 in out and out[1][0] is None and out[1][1] > 0
        assert out[2][0] == 1.0  # present embedding still scores dense
    finally:
        idx.unpersist()


def test_versioned_artifact_contract():
    """The shared per-version artifact cache: params are part of the
    key (different builds coexist at one version), stale VERSIONS are
    released, hits don't rebuild."""
    from lakeapi_spark.artifacts import versioned_artifact

    cache, released, builds = {}, [], []

    def make(tag):
        def build():
            builds.append(tag)
            return tag

        return build

    a = versioned_artifact(cache, "t", 1, ("w10",), make("a"), released.append)
    assert versioned_artifact(cache, "t", 1, ("w10",), make("a2"), released.append) == "a"
    b = versioned_artifact(cache, "t", 1, ("w20",), make("b"), released.append)
    assert a == "a" and b == "b" and released == []  # params coexist
    c = versioned_artifact(cache, "t", 2, ("w10",), make("c"), released.append)
    assert c == "c" and sorted(released) == ["a", "b"]  # stale version released
    # other identities untouched
    versioned_artifact(cache, "u", 1, (), make("u1"), released.append)
    versioned_artifact(cache, "t", 2, ("w20",), make("d"), released.append)
    assert sorted(released) == ["a", "b"] and builds == ["a", "b", "c", "u1", "d"]


from hypothesis import HealthCheck as _HealthCheck
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_given(
    _st.lists(
        _st.lists(_st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
@_settings(max_examples=8, deadline=None, suppress_health_check=list(_HealthCheck))
def test_unigram_logprob_matches_naive(spark, token_docs):
    """Differential: corpus-unigram scoring vs a pure-Python twin on
    tiny corpora (3-token vocab -> heavy frequency collisions; empty
    docs must drop out). The twin must round HALF-UP like Spark's
    ROUND (BigDecimal HALF_UP) and DuckDB's — Python's built-in round
    is banker's (half-even) and diverges exactly on .xxxx5 boundaries
    (hypothesis found (-0.875469*2 - 1.098612)/3 = -0.94985 rounding
    to -0.9498 vs the engines' agreeing -0.9499)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from lakeapi_spark.operators.text import unigram_logprob

    def round_half_up(x: float, nd: int) -> float:
        q = Decimal(1).scaleb(-nd)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    docs = [(i, toks) for i, toks in enumerate(token_docs)]
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs], "doc_id long, text string"
    )
    cnt = Counter(t for _, toks in docs for t in toks)
    total = sum(cnt.values())
    expect = {}
    for did, toks in docs:
        if not toks:
            continue
        lps = [round_half_up(math.log(cnt[t] / total), 6) for t in toks]
        expect[did] = (len(toks), round_half_up(sum(lps) / len(lps), 4))
    got = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in unigram_logprob(df, "doc_id", "text").collect()
    }
    assert got == expect


class TestScrubPii:
    """operators/text.py:scrub_pii — redaction + counts, hand-built
    edge cases (the oracle-parity query proves corpus-scale identity
    with DuckDB; this pins the intended semantics)."""

    def _run(self, spark, text):
        from lakeapi_spark.operators.text import scrub_pii

        df = spark.createDataFrame([(1, text)], "id long, t string")
        return scrub_pii(df, "id", "t").collect()[0]

    def test_each_kind_redacts(self, spark):
        r = self._run(
            spark,
            "mail a.b+c@ex-am.ple.org ssn 123-45-6789 call +1 (415) 555-0199 "
            "host 192.168.0.1 done",
        )
        assert r.scrubbed == "mail <EMAIL> ssn <SSN> call <PHONE> host <IP> done"
        assert (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4) == (1, 1, 1, 1)
        assert r.n_pii == 4

    def test_email_swallows_embedded_host_and_counts_are_on_original(self, spark):
        # the address contains an ip-shaped host: ONE email redaction
        # (order: email first), but counts — taken on the original
        # text — see both the email and the ip pattern hit
        r = self._run(spark, "x root@10.0.0.1.example.com y")
        assert r.scrubbed == "x <EMAIL> y"
        assert r.n_email == 1 and r.n_ipv4 == 1
        assert r.n_pii == 2

    def test_clean_text_untouched(self, spark):
        r = self._run(spark, "nothing sensitive here, version 1.2 at 3pm")
        assert r.scrubbed == "nothing sensitive here, version 1.2 at 3pm"
        assert r.n_pii == 0

    def test_multiple_hits_same_kind(self, spark):
        r = self._run(spark, "a@b.co c@d.io e@f.net")
        assert r.scrubbed == "<EMAIL> <EMAIL> <EMAIL>"
        assert r.n_email == 3 and r.n_pii == 3

    def test_plan_is_map_only(self, spark):
        from lakeapi_spark.operators.text import scrub_pii

        df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS t")
        plan = (
            scrub_pii(df, "id", "t")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # no shuffle: pure projection


def test_pmi_collocations_planted_phrase(spark):
    """A planted always-adjacent phrase outranks independent fillers;
    counts and ordering are deterministic; min_count filters the tail."""
    from lakeapi_spark.operators.text import pmi_collocations

    rows = []
    for i in range(20):
        # "neural network" always adjacent; fillers shuffle freely
        fillers = ["the", "data", "model", "runs", "fast"]
        body = " ".join(fillers[(i + j) % 5] for j in range(6))
        rows.append((i, f"{body} neural network {body}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(df, "doc_id", "text", min_count=3, top=10).collect()
    assert out, "no collocations found"
    top = out[0]
    assert (top.tok_a, top.tok_b) == ("neural", "network")
    assert top.n_pair == 20 and top.n_a == 20 and top.n_b == 20
    assert top.pmi6 == max(r.pmi6 for r in out)
    # deterministic across runs
    again = pmi_collocations(df, "doc_id", "text", min_count=3, top=10).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]
    assert all(r.n_pair >= 3 for r in out)


def test_domain_reputation_verdicts(spark):
    """Planted domains: a clean unique-text source keeps, a source
    mirroring another's docs reviews/drops by dup_rate; dup detection
    is corpus-wide (the mirrored ORIGINAL counts as dup too)."""
    from lakeapi_spark.operators.sampling import domain_reputation

    good = "The quick brown fox jumps over the lazy dog and it is fine. " * 3
    rows = []
    for i in range(10):  # clean: unique, high-quality text
        rows.append((i, good + f"unique tail {i}", "clean", "en"))
    for i in range(10, 20):  # mirror: all docs copy one text
        rows.append((i, "copy of the same thing", "mirror", "en"))
    rows.append((20, "copy of the same thing", "victim", "en"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
    out = {r.source: r for r in domain_reputation(
        df, "doc_id", "text", "source", "lang"
    ).collect()}
    assert out["clean"].verdict == "keep" and out["clean"].dup_rate == 0.0
    assert out["mirror"].dup_rate == 1.0 and out["mirror"].verdict == "drop"
    # corpus-wide: the single victim doc is a dup because mirror copies it
    assert out["victim"].dup_rate == 1.0
    assert out["clean"].top_lang == "en" and out["clean"].lang_share == 1.0
    assert 0.0 <= out["mirror"].avg_quality <= 1.0


def test_bigram_logprob_fluency_ordering(spark):
    """A doc made of the corpus's dominant bigram chains scores higher
    than one stitched from never-adjacent tokens; short docs drop."""
    from lakeapi_spark.operators.text import bigram_interp_logprob

    fluent = "the cat sat on the mat"
    rows = [(i, fluent) for i in range(10)]
    rows.append((100, "mat the on cat sat the"))  # same unigrams, novel bigrams
    rows.append((101, "solo"))  # < 2 tokens: no transitions
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r for r in bigram_interp_logprob(df, "doc_id", "text").collect()}
    assert 101 not in out
    assert out[0].n_transitions == 5
    assert out[0].avg_logprob > out[100].avg_logprob
    again = {r.id: (r.n_transitions, r.avg_logprob)
             for r in bigram_interp_logprob(df, "doc_id", "text").collect()}
    assert again == {k: (v.n_transitions, v.avg_logprob) for k, v in out.items()}


# ---------------------------------------------------------------------------
# round-8 additions: pagerank / bpe merge candidates / kmeans lloyd step
# ---------------------------------------------------------------------------


def test_pagerank_matches_naive_reference(spark):
    """Distributed fixed-iteration PageRank == a driver-side naive
    implementation of the SAME fixed-point contract (undirected,
    decimal-summed contributions, per-round rounding) on a small
    irregular graph; ranks stay positive and sum to ~1."""
    from decimal import Decimal

    from lakeapi_spark.operators.graph import pagerank

    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 3)]  # dup edge on purpose
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.node: r.pr for r in pagerank(edges, iters=2).collect()}

    und = set()
    for s, d in raw:
        und.add((s, d))
        und.add((d, s))
    nodes = sorted({s for s, _ in und})
    deg = {v: sum(1 for s, _ in und if s == v) for v in nodes}
    n = len(nodes)
    jump = (1.0 - 0.85) / n
    pr = {v: 1.0 / n for v in nodes}
    for digits in (10, 8):
        acc = {v: Decimal(0) for v in nodes}
        for s, d in und:
            q = Decimal(pr[s] / deg[s]).quantize(Decimal(1).scaleb(-12))
            acc[d] += q
        pr = {v: round(jump + 0.85 * float(acc[v]), digits) for v in nodes}

    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(pr[v], abs=1e-9), (v, got[v], pr[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert min(got.values()) > 0


def test_bpe_merge_candidates_counts_and_short_word_guard(spark):
    """Pair counts are word-frequency weighted; 1-char words contribute
    NO pairs (guard against Spark's descending sequence(1, 0) -> [1, 0]
    surprise); ranking is (count desc, pair asc)."""
    from lakeapi_spark.operators.text import bpe_merge_candidates

    rows = [(1, "ab ab a"), (2, "ab I"), (3, "ba")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = [(r.pair, r.weighted_count, r.rank) for r in
           bpe_merge_candidates(df, "text", top_n=10).collect()]
    # vocab: ab(freq 3), a(1), i(1), ba(1) -> pairs: 'a b'x3, 'b a'x1
    assert out == [("a b", 3, 1), ("b a", 1, 2)]


def test_kmeans_lloyd_step_partitions_members(spark):
    """Every vector lands in exactly one cluster: per-pos member counts
    sum to n across clusters for every dimension, and each centroid_sum
    equals the exact sum of its members' components."""
    from lakeapi_spark.operators.similarity import kmeans_lloyd_step

    rows = [
        (i, [float(((i * 13 + j * 7) % 89) / 100.0 + 0.05) for j in range(4)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd_step(emb, "vec_id", "embedding", [3, 17, 31]).collect()
    assert {r.cid for r in out} <= {0, 1, 2}
    by_pos = {}
    for r in out:
        by_pos.setdefault(r.pos, 0)
        by_pos[r.pos] += r.n_members
    assert by_pos == {0: 60, 1: 60, 2: 60, 3: 60}


def test_cms_estimates_never_underestimate_and_merge(spark):
    """CMS point estimates are >= true counts always, == with a wide
    grid (no collisions at toy scale); two sub-corpus grids merged by
    cellwise addition equal the full-corpus grid (mergeability is what
    makes the sketch distributed)."""
    from lakeapi_spark.operators.sketches import cms_build, cms_estimate

    rows = [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]]
    df = spark.createDataFrame(rows, ["k"])
    truth = {"a": 5, "b": 3, "c": 2, "d": 1}
    sk = cms_build(df, "k", depth=4, width=1024)
    probes = spark.createDataFrame([(w,) for w in truth], ["k"])
    est = {r.key: r.est for r in cms_estimate(sk, probes, "k", depth=4, width=1024).collect()}
    assert est == truth  # wide grid -> no collisions
    narrow = cms_build(df, "k", depth=2, width=2)
    est2 = {r.key: r.est for r in cms_estimate(narrow, probes, "k", depth=2, width=2).collect()}
    assert all(est2[w] >= truth[w] for w in truth)

    part1 = [(w,) for w in ["a"] * 2 + ["b"] * 3]
    part2 = [(w,) for w in ["a"] * 3 + ["c"] * 2 + ["d"]]
    half1 = cms_build(spark.createDataFrame(part1, ["k"]), "k", depth=4, width=1024)
    half2 = cms_build(spark.createDataFrame(part2, ["k"]), "k", depth=4, width=1024)
    merged = (
        half1.unionAll(half2)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r.row, r.col): r.cnt for r in sk.collect()}
    assert {(r.row, r.col): r.cnt for r in merged.collect()} == full


def test_blocked_fuzzy_pairs_blocks_and_distances(spark):
    from lakeapi_spark.operators.joins import blocked_fuzzy_pairs

    rows = [("red widget",), ("red widgets",), ("red wudget",), ("blue widget",), ("red widget",)]
    df = spark.createDataFrame(rows, ["name"])
    out = {
        (r.name_a, r.name_b): r.dist
        for r in blocked_fuzzy_pairs(
            df, "name", lambda c: F.split_part(c, F.lit(" "), F.lit(1)), max_dist=4
        ).collect()
    }
    # 'blue widget' is in another block -> never compared despite dist 1-2
    assert out == {
        ("red widget", "red widgets"): 1,
        ("red widget", "red wudget"): 1,
        ("red widgets", "red wudget"): 2,
    }


def test_gapfill_locf_fills_gaps_with_last_value(spark):
    from datetime import datetime

    from lakeapi_spark.operators.windows import gapfill_locf

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 10.0),
        (1, datetime(2024, 1, 1, 3, 10), 7.0),   # hours 1,2 are gaps
        (2, datetime(2024, 1, 1, 5, 0), 1.0),    # single bucket, no spine gap
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r.user_id, r.bucket): (r.is_gap, r.filled_value)
        for r in gapfill_locf(
            df, "ts", "user_id", 3600, F.sum("value"), "hour_value"
        ).collect()
    }
    h0 = int(datetime(2024, 1, 1).timestamp())
    assert out[(1, h0)] == (False, 10.0)
    assert out[(1, h0 + 3600)] == (True, 10.0)
    assert out[(1, h0 + 7200)] == (True, 10.0)
    assert out[(1, h0 + 10800)] == (False, 7.0)
    assert out[(2, h0 + 5 * 3600)] == (False, 1.0)
    assert len(out) == 5


def test_kmeans_transition_matrix_partitions_all_vectors(spark):
    from lakeapi_spark.operators.similarity import kmeans_transition_matrix

    rows = [
        (i, [float(((i * 13 + j * 7) % 89) / 100.0 + 0.05) for j in range(4)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_transition_matrix(emb, "vec_id", "embedding", [3, 17, 31]).collect()
    assert sum(r.n_vecs for r in out) == 80
    assert {r.cid_from for r in out} <= {0, 1, 2}
    assert {r.cid_to for r in out} <= {0, 1, 2}


def test_market_basket_pairs_support_and_lift(spark):
    from lakeapi_spark.operators.basket import market_basket_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # dup item in basket counts once
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "c"),
    ]
    df = spark.createDataFrame(rows, ["order_id", "item"])
    out = {
        (r.item_a, r.item_b): (r.n_both, r.n_a, r.n_b, r.lift, r.rank)
        for r in market_basket_pairs(df, "order_id", "item", top_n=10).collect()
    }
    # 4 baskets; a in 3, b in 2, c in 2; ab together 2, ac together 1
    assert out[("a", "b")] == (2, 3, 2, 2 * 4 / (3 * 2), 1)
    assert out[("a", "c")] == (1, 3, 2, 1 * 4 / (3 * 2), 2)
    assert len(out) == 2


def test_zscore_outliers_flags_and_guards(spark):
    from lakeapi_spark.operators.stats import zscore_outliers

    rows = (
        [(i, "g1", 10.0) for i in range(20)]
        + [(100, "g1", 1000.0)]          # the outlier
        + [(200, "const", 5.0), (201, "const", 5.0)]  # zero variance
        + [(300, "single", 7.0)]         # n < 2
    )
    df = spark.createDataFrame(rows, ["event_id", "grp", "value"])
    out = zscore_outliers(df, "grp", "value", threshold=3.0).collect()
    assert [r.event_id for r in out] == [100]
    assert out[0].z > 3


def test_oov_rate_against_explicit_vocab(spark):
    from lakeapi_spark.operators.text import oov_rate

    rows = [
        (1, "aa aa bb zz"),   # vocab(2)={aa,bb} -> 1 oov of 4
        (2, "aa qq"),         # 1 oov of 2
        (3, "   "),           # no tokens -> absent
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: (r.n_tokens, r.n_oov, r.oov_frac)
           for r in oov_rate(df, "doc_id", "text", vocab_size=2).collect()}
    assert out == {1: (4, 1, 0.25), 2: (2, 1, 0.5)}


def test_jaccard_prefix_pairs_matches_bruteforce(spark):
    """Prefix filtering must be LOSSLESS vs the brute-force all-pairs
    exact Jaccard at the same threshold — the filter is a pruning
    strategy, never a semantics change."""
    from lakeapi_spark.operators.dedup import jaccard_prefix_pairs

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),            # identical to 1
        (3, "a b c d f"),            # 4/6 with 1
        (4, "a b c d e f"),          # 5/6 with 1
        (5, "x y z"),                # disjoint
        (6, "x y z"),                # identical to 5
        (7, "q"),                    # singleton
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def brute(th_num, th_den):
        sets = {i: set(t.split()) for i, t in rows}
        out = set()
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    inter = len(sets[a] & sets[b])
                    union = len(sets[a] | sets[b])
                    if inter * th_den >= union * th_num:
                        out.add((a, b, inter, union))
        return out

    for num, den in [(1, 2), (4, 5), (1, 1)]:
        got = {
            (r.id_a, r.id_b, r.inter_sz, r.union_sz)
            for r in jaccard_prefix_pairs(df, "doc_id", "text", num, den).collect()
        }
        assert got == brute(num, den), (num, den)


def test_hll_merge_and_error_bound(spark):
    """Register merge is exact: sketch(A) u sketch(B) re-aggregated ==
    sketch(A u B). Estimate lands inside a generous multiple of the
    1.04/sqrt(m) standard error."""
    from lakeapi_spark.operators.sketches import hll_build, hll_estimate

    a = spark.range(0, 3000).select(F.col("id").alias("k"))
    b = spark.range(2000, 5000).select(F.col("id").alias("k"))  # overlap 1k
    union = a.union(b)

    regs_a = hll_build(a, "k", b=8)
    regs_b = hll_build(b, "k", b=8)
    merged = (
        regs_a.union(regs_b).groupBy("reg").agg(F.max("mx").alias("mx"))
    )
    est_merged = hll_estimate(merged, b=8).collect()[0]
    est_union = hll_estimate(hll_build(union, "k", b=8), b=8).collect()[0]
    assert est_merged.n_est == est_union.n_est  # bit-exact merge

    rel_err = abs(float(est_union.n_est) - 5000) / 5000
    assert rel_err < 4 * 1.04 / (256 ** 0.5), rel_err


def test_hll_small_range_linear_counting_branch(spark):
    """Tiny cardinalities must route through the linear-counting
    correction (raw HLL is biased low there)."""
    from lakeapi_spark.operators.sketches import hll_build, hll_estimate

    df = spark.range(0, 20).select(F.col("id").alias("k"))
    est = float(hll_estimate(hll_build(df, "k", b=8), b=8).collect()[0].n_est)
    assert abs(est - 20) / 20 < 0.25, est


def test_bloom_never_false_negative(spark):
    """Every built key must pass its own filter (the bloom contract);
    false positives exist but stay well under the analytic bound."""
    from lakeapi_spark.operators.sketches import bloom_build, bloom_probe

    build = spark.range(0, 300).select(F.col("id").alias("k"))
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    bits = bloom_build(build, "k", m_bits=4096, k=3)
    out = {r.k: r.bloom_pass for r in bloom_probe(probe, bits, "k", 4096, 3).collect()}
    assert all(out[i] for i in range(300))  # no false negatives
    fp = sum(1 for i in range(300, 3000) if out[i])
    # analytic fp rate (1 - e^-kn/m)^k ~ 0.8%; allow 4x slack
    assert fp / 2700 < 0.032, fp


def test_strip_boilerplate_lines_explicit(spark):
    from lakeapi_spark.operators.text import strip_boilerplate_lines

    banner = "accept cookies to continue"
    rows = [
        (1, f"{banner}\nreal prose one\nmore prose"),
        (2, f"{banner}\nother text"),
        (3, f"{banner}\nthird doc body"),
        (4, "unique document\n\n  \nwith blank lines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # banner in 3/4 docs > 1/2 -> stripped; everything else kept
    out = {
        r.id: (r.n_lines, r.n_kept, r.kept_text)
        for r in strip_boilerplate_lines(df, "doc_id", "text", 1, 2).collect()
    }
    assert out[1] == (3, 2, "real prose one\nmore prose")
    assert out[2] == (2, 1, "other text")
    assert out[3] == (2, 1, "third doc body")
    # blank/whitespace lines are not lines at all
    assert out[4] == (2, 2, "unique document\nwith blank lines")


def test_weighted_sample_aes_properties(spark):
    from lakeapi_spark.operators.sampling import weighted_sample_aes

    rows = [(i, 1.0 if i < 900 else 100.0) for i in range(1000)]
    rows += [(2000, 0.0), (2001, -5.0), (2002, None)]  # never eligible
    df = spark.createDataFrame(rows, "k long, w double")
    got = weighted_sample_aes(df, "k", "w", k=100)
    ids = [r.k for r in got.collect()]
    assert len(ids) == 100 and len(set(ids)) == 100
    assert not {2000, 2001, 2002} & set(ids)
    # 100 heavy rows at 100x weight should dominate the sample
    heavy = sum(1 for i in ids if i >= 900)
    assert heavy > 50, heavy
    # deterministic: same call, same selection
    again = [r.k for r in weighted_sample_aes(df, "k", "w", k=100).collect()]
    assert ids == again


def test_wav_decode_samples_interop_and_malformed(spark):
    """Decode a WAV written by the STDLIB wave module (independent
    writer - proves the chunk walk is a real parser, not a fixture
    echo), plus malformed payloads -> valid=false."""
    import io
    import struct
    import wave

    from lakeapi_spark.operators.multimodal import wav_decode_samples

    vals = [0, 1000, -1000, 32767, -32768, 7]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack(f"<{len(vals)}h", *vals))
    good = buf.getvalue()

    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"RIFFgarbage")),         # truncated
        (3, bytearray(b"\x00" * 64)),           # wrong signature
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in wav_decode_samples(df).collect()}
    assert out[1].valid and out[1].n_channels == 2
    assert out[1].n_frames == len(vals) // 2
    assert out[1].sum_sq == sum(v * v for v in vals)
    assert out[1].peak == 32768
    assert not out[2].valid and not out[3].valid


def test_attach_pcm_wav_roundtrip_via_stdlib_reader(spark):
    """The JVM-assembled payload must be a WAV the stdlib wave module
    itself can read back — byte-level validity, not just self-consistency."""
    import io
    import struct
    import wave

    from lakeapi_spark.operators.multimodal import attach_pcm_wav_payload

    df = spark.createDataFrame([(5,), (70,)], "doc_id long")
    payloads = {
        r.id: bytes(r.payload)
        for r in attach_pcm_wav_payload(df, "doc_id").collect()
    }
    for rid, raw in payloads.items():
        with wave.open(io.BytesIO(raw)) as w:
            assert w.getnchannels() == 1
            assert w.getframerate() == 16000
            assert w.getsampwidth() == 2
            n = 64 + rid % 64
            assert w.getnframes() == n
            vals = struct.unpack(f"<{n}h", w.readframes(n))
            expect = tuple(((rid * 31 + i * 17) % 2001) - 1000 for i in range(n))
            assert vals == expect


def test_triangle_count_known_graphs(spark):
    from lakeapi_spark.operators.graph import triangle_count

    # K4 (4 triangles) plus a pendant edge, duplicates/reverses/self-loops
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(3, 4), (2, 2), (0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)

    # a triangle-free star
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    row = triangle_count(star).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (6, 5, 0)


def test_random_projection_shape_and_linearity(spark):
    from lakeapi_spark.operators.similarity import random_projection

    rows = [(1, [1.0] * 16), (2, [2.0] * 16), (3, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = random_projection(df, "vec_id", "embedding", out_dim=4).collect()
    assert len(out) == 12  # 3 vecs x 4 dims
    proj = {(r.id, r.j): r.val for r in out}
    # linearity: projection of 2v is 2 * projection of v; zero stays zero
    for j in range(4):
        assert abs(proj[(2, j)] - 2 * proj[(1, j)]) < 1e-6
        assert proj[(3, j)] == 0.0


def test_winsorized_stats_clips_outliers(spark):
    from lakeapi_spark.operators.stats import winsorized_stats

    rows = [(i, "g", 10.0) for i in range(98)] + [(98, "g", 0.0), (99, "g", 10000.0)]
    df = spark.createDataFrame(rows, "i long, grp string, value double")
    out = winsorized_stats(df, "grp", "value", 0.05, 0.95).collect()[0]
    assert out.n == 100
    assert out.n_clipped_low == 1 and out.n_clipped_high == 1
    assert out.mean_raw > 100  # dragged by the outlier
    assert out.mean_wins == 10.0  # robust: clipped to the p05/p95 band


def test_scd2_collapse_versions_and_ranges(spark):
    from lakeapi_spark.operators.windows import scd2_collapse

    rows = [
        (1, 100, 10, "A"), (1, 200, 11, "A"), (1, 300, 12, "B"),
        (1, 400, 13, "A"),  # A again -> NEW version, not merged with v1
        (2, 100, 20, None), (2, 200, 21, None),  # null attr tracked as a value
    ]
    df = spark.createDataFrame(rows, "k int, es long, tb int, attr string").select(
        "k", F.timestamp_seconds("es").alias("ts"), "tb", "attr"
    )
    out = {(r.k, r.version): r for r in
           scd2_collapse(df, "k", "ts", "attr", "tb").collect()}
    assert len(out) == 4
    v1, v2, v3 = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (v1.attr_value, v1.valid_from, v1.valid_to, v1.is_current, v1.n_obs) == ("A", 100, 300, False, 2)
    assert (v2.attr_value, v2.valid_from, v2.valid_to) == ("B", 300, 400)
    assert (v3.attr_value, v3.valid_to, v3.is_current) == ("A", None, True)
    n = out[(2, 1)]
    assert n.attr_value is None and n.n_obs == 2 and n.is_current


def test_asof_forward_tolerance_and_ties(spark):
    from lakeapi_spark.operators.joins import asof_join_forward

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 500), (3, 2, 100)], "id int, u int, es long"
    ).select("id", "u", F.timestamp_seconds("es").alias("ts"))
    right = spark.createDataFrame(
        [(1, 100, 7.0), (1, 650, 8.0)], "u int, es long, v double"
    ).select("u", F.timestamp_seconds("es").alias("ts"), F.col("v"))
    out = {r.id: r for r in asof_join_forward(
        left, right, "ts", ["u"], ["v"], tolerance_s=100
    ).collect()}
    assert out[1].right_v == 7.0  # equal timestamp matches
    assert out[2].right_v is None  # next is 150s away, outside tolerance
    assert out[3].right_v is None and out[3].right_ts is None  # no right rows


def test_mad_outliers_robust_to_single_spike(spark):
    from lakeapi_spark.operators.stats import mad_outliers

    rows = [(i, "g", float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 9, 10, 1000])]
    df = spark.createDataFrame(rows, "id int, grp string, value double")
    out = mad_outliers(df, "grp", "value", k=3.5).collect()
    assert [r.id for r in out] == [9]  # the spike, and only the spike


def test_psi_drift_detects_shift(spark):
    from lakeapi_spark.operators.stats import psi_drift

    base = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(200)] + [("b", float(i % 10)) for i in range(200)],
        "g string, value double",
    )
    shifted = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(200)] + [("b", float(i % 10) + 6.0) for i in range(200)],
        "g string, value double",
    )
    out = {r.g: r.psi for r in psi_drift(base, shifted, "g", "value").collect()}
    assert out["a"] < 0.01  # identical distribution -> ~0
    assert out["b"] > 0.25  # shifted by 6 of 10 widths -> drifted


def test_orphan_counts_nonzero_and_null_fk(spark):
    from lakeapi_spark.operators.stats import orphan_counts

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    r = orphan_counts([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (r.n_child, r.n_null_fk, r.n_orphans) == (4, 1, 1)


def test_budget_select_matches_global_window(spark):
    from lakeapi_spark.operators.sampling import budget_select

    rows = [(i, float((i * 37) % 100), (i % 7) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, score double, w long")
    got = {
        (r.id, r.cum_weight)
        for r in budget_select(df, "id", "score", "w", budget=300, n_buckets=8).collect()
    }
    # naive oracle: global (score desc, id) order, inclusive running sum
    cum, want = 0, set()
    for _, _, i, w in sorted((-s, i, i, w) for i, s, w in rows):
        cum += w
        if cum <= 300:
            want.add((i, cum))
    assert got == want and len(got) > 0


@pytest.mark.soak
def test_lsh_index_refresh_equals_full_rebuild(spark, tmp_path):
    """Change-feed maintenance invariant: after append + update +
    delete commits, the incrementally-refreshed index serves the SAME
    pairs as a from-scratch build at the final version, and the
    refresh touches only the churned ids."""
    from lakeapi_spark.operators.incremental import (
        lsh_index_build,
        lsh_index_pairs,
        lsh_index_refresh,
        lsh_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base + f" extra{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = str(tmp_path / "docs")
    write_delta(df, tbl, configuration={"delta.enableChangeDataFeed": "true"})

    idx = str(tmp_path / "idx")
    lsh_index_build(spark, tbl, idx, "doc_id", "text")

    write_delta(
        spark.createDataFrame([(100, base + " extra100")], "doc_id long, text string"),
        tbl,
    )
    update_delta(spark, tbl, {"text": "concat(text, ' upd')"}, "doc_id = 3")
    delete_delta(spark, tbl, "doc_id = 7")

    v, n_touched = lsh_index_refresh(spark, tbl, idx, "doc_id", "text")
    assert v == 3 and lsh_index_version(spark, idx) == 3
    assert n_touched == 3  # 100 inserted, 3 updated, 7 deleted — nothing else

    full = str(tmp_path / "idx_full")
    lsh_index_build(spark, tbl, full, "doc_id", "text")
    inc_pairs = {tuple(r) for r in lsh_index_pairs(spark, idx).collect()}
    full_pairs = {tuple(r) for r in lsh_index_pairs(spark, full).collect()}
    assert inc_pairs == full_pairs and len(inc_pairs) > 0
    ids = {i for p in inc_pairs for i in p[:2]}
    assert 7 not in ids  # deleted doc serves no pairs

    # idempotent no-op when the table hasn't moved
    v2, n2 = lsh_index_refresh(spark, tbl, idx, "doc_id", "text")
    assert (v2, n2) == (3, 0)


def test_refresh_agg_moves_and_drops_groups(spark):
    from lakeapi_spark.operators.incremental import cdf_agg_delta, refresh_agg

    agg0 = spark.createDataFrame(
        [("a", 2, 10.0), ("b", 1, 5.0)], "k string, n long, s double"
    ).select("k", "n", F.col("s").cast("decimal(28,10)").alias("sum_v"))
    changes = spark.createDataFrame(
        [
            ("a", 4.0, "update_preimage"),   # row leaves group a ...
            ("c", 4.0, "update_postimage"),  # ... and lands in NEW group c
            ("b", 5.0, "delete"),            # empties group b entirely
        ],
        "k string, v double, _change_type string",
    )
    d = cdf_agg_delta(changes, ["k"], ["v"])
    out = {r.k: (r.n, float(r.sum_v)) for r in
           refresh_agg(agg0, d, ["k"], "n", ["v"]).collect()}
    assert out == {"a": (1, 6.0), "c": (1, 4.0)}  # b dropped at n=0


def test_twap_weights_by_holding_time(spark):
    from lakeapi_spark.operators.windows import twap

    # value 10 held 90s, value 100 held 10s -> twap 19.0; key 2 has a
    # single observation (no duration) and must drop
    rows = [(1, 0, 10.0), (1, 90, 100.0), (1, 100, 7.0), (2, 50, 5.0)]
    df = spark.createDataFrame(rows, "k int, es long, value double").select(
        "k", F.timestamp_seconds("es").alias("ts"), "value"
    )
    out = twap(df, "ts", "k", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.k, r.twap_value, r.duration_s, r.n_obs) == (1, 19.0, 100, 2)


def test_best_dedup_keepers_score_then_id_tiebreak(spark):
    from lakeapi_spark.operators.dedup import best_dedup_keepers

    rows = [
        (1, "a  b", 0.5), (2, "a b ", 0.9), (3, " a b", 0.9),  # 2 wins: score, then min id
        (4, "zzz", 0.1),
    ]
    df = spark.createDataFrame(rows, "id long, text string, q double")
    out = {r.fingerprint: r for r in best_dedup_keepers(df, "id", "text", "q").collect()}
    grp = [v for v in out.values() if v.n_dups == 3][0]
    assert (grp.keeper_id, grp.keeper_score) == (2, 0.9)
    solo = [v for v in out.values() if v.n_dups == 1][0]
    assert solo.keeper_id == 4


def test_key_skew_report_shares_and_factor(spark):
    from lakeapi_spark.operators.skew import key_skew_report

    # key "hot" holds 8 of 10 rows; two singleton keys
    rows = [(i, "hot") for i in range(8)] + [(8, "a"), (9, "b")]
    df = spark.createDataFrame(rows, "i long, k string")
    out = key_skew_report(df, ["k"], top=2).collect()
    assert [(r.k, r.n) for r in out] == [("hot", 8), ("a", 1)]
    hot = out[0]
    assert hot.share_pct == 80.0
    # mean count = 10/3; skew factor = 8 / (10/3) = 2.4
    assert hot.skew_factor == 2.4


def test_benford_audit_exact_digit_extraction(spark):
    from lakeapi_spark.operators.stats import benford_audit, BENFORD_PCT

    # 19.99 -> first digit 1 even though log10 sits near the 2.0 edge;
    # 0.07 -> 7 after scale; non-positive rows are excluded
    rows = [(19.99,), (19.99,), (0.07,), (200.0,), (0.0,), (-5.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in benford_audit(df, "v", scale=100).collect()}
    assert {d: r.n for d, r in out.items()} == {1: 2, 2: 1, 7: 1}
    assert out[1].obs_pct == 50.0
    assert out[1].exp_pct == BENFORD_PCT[1]
    assert out[1].abs_dev == round(abs(50.0 - BENFORD_PCT[1]), 4)


def test_ols_trend_recovers_line(spark):
    from lakeapi_spark.operators.stats import ols_trend

    # y = 3x + 7 exactly; one group with a single point is dropped
    rows = [("g", x, 3.0 * x + 7.0) for x in range(10)] + [("solo", 0, 5.0)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    out = {r.g: r for r in ols_trend(df, ["g"], "x", "y").collect()}
    assert set(out) == {"g"}
    assert out["g"].n_pts == 10
    assert out["g"].slope == 3.0
    assert out["g"].intercept == 7.0


def test_theil_sen_ignores_outlier_ols_chases(spark):
    from lakeapi_spark.operators.stats import ols_trend, theil_sen_trend

    # y = 2x + 1 with one wild outlier at x=9; Theil-Sen recovers the
    # true line, OLS on the same data does not
    rows = [("g", x, 2.0 * x + 1.0) for x in range(9)] + [("g", 9, 1000.0)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    ts = theil_sen_trend(df, ["g"], "x", "y").collect()[0]
    assert ts.n_pairs == 45
    assert ts.slope == 2.0
    assert ts.intercept == 1.0
    ols = ols_trend(df, ["g"], "x", "y").collect()[0]
    assert abs(ols.slope - 2.0) > 10  # the outlier drags OLS far off


def test_theil_sen_even_pair_count_median_rule(spark):
    from lakeapi_spark.operators.stats import theil_sen_trend

    # 4 points -> 6 pairwise slopes (even): median = avg of the two
    # middle slopes. Points (0,0),(1,1),(2,4),(3,9): slopes
    # [1,2,3,3,4,5] -> median (3+3)/2 = 3.0
    rows = [("g", 0, 0.0), ("g", 1, 1.0), ("g", 2, 4.0), ("g", 3, 9.0)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    out = theil_sen_trend(df, ["g"], "x", "y").collect()[0]
    assert out.n_pairs == 6
    assert out.slope == 3.0


def test_hard_negatives_excludes_same_label(spark):
    from lakeapi_spark.operators.similarity import brute_force_topk, hard_negatives

    # 3 clusters on axes; query 0 (label 0): nearest overall is id 1
    # (same label, excluded) so the top hard negative is the label-1
    # vector with the highest cosine
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # same label: never a hard negative
        (2, [0.8, 0.6, 0.0], 1),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = df.filter("vec_id = 0")
    out = hard_negatives(df, q, "vec_id", "embedding", "label", k=3).collect()
    ids = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert 1 not in ids  # same-label neighbor excluded
    assert ids[0] == 2  # closest different-label vector first
    assert all(r.query_label == 0 and r.neg_label != 0 for r in out)
    # ranking discipline matches brute_force_topk on the label-filtered set
    bf = brute_force_topk(df.filter("label <> 0"), q, "vec_id", "embedding", k=3)
    assert [r.neighbor_id for r in bf.orderBy("rank").collect()] == ids


def test_feature_hash_counts_occurrences_and_dim(spark):
    from lakeapi_spark.operators.sampling import key_hash
    from lakeapi_spark.operators.text import feature_hash_counts

    df = spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, "  "), (4, "c")],
        "doc_id long, text string",
    )
    out = feature_hash_counts(df, "doc_id", "text", dim=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, {})[r.idx] = r.cnt
    assert set(by_doc) == {1, 4}  # empty/whitespace docs produce no rows
    assert sum(by_doc[1].values()) == 3  # occurrences, not distinct
    assert all(0 <= idx < 8 for d in by_doc.values() for idx in d)
    # 'a' appears twice in doc 1: its bucket carries count 2
    a_idx = spark.range(1).select((key_hash(F.lit("a")) % 8).alias("i")).collect()[0].i
    assert by_doc[1][a_idx] == 2


def test_label_propagation_splits_bridged_cliques(spark):
    from lakeapi_spark.operators.graph import label_propagation

    # two triangles {1,2,3} and {10,11,12} joined by a single bridge
    # 3-10: connected components would fuse them; LPA keeps two
    # communities (each triangle converges to its min label)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "src long, dst long",
    )
    out = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    from lakeapi_spark.operators.graph import label_propagation

    # node 2's neighbors {1, 3} tie at one vote each -> adopts 1
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    one = {r.node: r.label for r in label_propagation(edges, rounds=1).collect()}
    assert one[2] == 1


def test_roc_auc_known_values(spark):
    from lakeapi_spark.operators.stats import roc_auc

    # perfect separation -> 1.0; reversed -> 0.0; all-tied -> 0.5
    rows = (
        [("sep", s, 1 if s >= 10 else 0) for s in range(20)]
        + [("rev", s, 0 if s >= 10 else 1) for s in range(20)]
        + [("tie", 5, y) for y in (0, 1, 0, 1)]
        + [("degen", 1, 1), ("degen", 2, 1)]  # single class: dropped
    )
    df = spark.createDataFrame(rows, "g string, s long, y long")
    out = {r.g: r for r in roc_auc(df, ["g"], "s", "y").collect()}
    assert set(out) == {"sep", "rev", "tie"}
    assert out["sep"].auc == 1.0 and out["sep"].n_pos == 10
    assert out["rev"].auc == 0.0
    assert out["tie"].auc == 0.5  # midrank tie handling


def test_calibration_bins_balanced_and_exact(spark):
    from lakeapi_spark.operators.stats import calibration_bins

    # 20 rows, scores 0.00..0.95 in 0.05 steps, label = score >= 0.5
    rows = [(i, i * 0.05, 1 if i * 0.05 >= 0.5 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, "rid long, score double, y long")
    out = {r.bin: r for r in calibration_bins(df, "score", "y", ["rid"], n_bins=10).collect()}
    assert len(out) == 10 and all(r.n == 2 for r in out.values())
    assert out[1].pos_rate == 0.0 and out[10].pos_rate == 1.0
    # bin 1 holds scores 0.00, 0.05 -> mean 0.025
    assert out[1].mean_score == 0.025


def test_readability_flesch_hand_computed(spark):
    from lakeapi_spark.operators.text import readability_scores

    # "go now. stop it!" -> 4 words, 2 sentences, 4 syllables
    # flesch = 206.835 - 1.015*2 - 84.6*1 = 120.205
    df = spark.createDataFrame(
        [(1, "go now. stop it!"), (2, "   ")], "doc_id long, text string"
    )
    out = readability_scores(df, "doc_id", "text").collect()
    assert len(out) == 1  # whitespace-only doc drops
    r = out[0]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (4, 2, 4)
    assert r.flesch == 120.205


def test_canary_hits_verbatim_only(spark):
    from lakeapi_spark.operators.contamination import canary_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "prefix THE QUICK BROWN FOX JUMPS suffix"),  # case-folded hit
            (2, "the quick brown fox leaps over"),  # paraphrase: no hit
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.n_canaries_hit for r in canary_hits(train, bench, "doc_id", "text").collect()}
    assert out == {1: 1}


def test_canary_hits_whitespace_normalized_copy(spark):
    """A verbatim copy whose tokens are newline/tab/multi-space
    separated still flags: the probe side gets the same whitespace
    normalization the canary's token-join applied."""
    from lakeapi_spark.operators.contamination import canary_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "header\nthe quick\nbrown\tfox  jumps here"),  # ws-mangled copy
            (2, "the quickbrown fox jumps"),  # token boundary lost: no hit
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.n_canaries_hit for r in canary_hits(train, bench, "doc_id", "text").collect()}
    assert out == {1: 1}


@pytest.mark.soak
def test_lsh_index_snapshot_retention(spark, tmp_path):
    """Each refresh writes a full v{N} snapshot; retention after the
    meta flip keeps only the newest _RETAIN of them so index
    storage stays bounded under a continuous stream — and the live
    snapshot keeps serving the same pairs as a full rebuild."""
    import os
    import re

    from lakeapi_spark.operators.incremental import (
        _RETAIN,
        lsh_index_build,
        lsh_index_pairs,
        lsh_index_refresh,
        lsh_index_version,
    )
    from lakeapi_spark.sources.delta import write_delta

    base = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [(i, base + f" extra{i}") for i in range(10)], "doc_id long, text string"
    )
    tbl = str(tmp_path / "docs")
    write_delta(df, tbl, configuration={"delta.enableChangeDataFeed": "true"})
    idx = str(tmp_path / "idx")
    lsh_index_build(spark, tbl, idx, "doc_id", "text")

    for j in range(3):  # three commits, three refreshes -> v0..v3 written
        write_delta(
            spark.createDataFrame(
                [(100 + j, base + f" extra{100 + j}")], "doc_id long, text string"
            ),
            tbl,
        )
        lsh_index_refresh(spark, tbl, idx, "doc_id", "text")

    snaps = sorted(
        int(m.group(1))
        for d in os.listdir(idx)
        if (m := re.fullmatch(r"v(\d+)", d))
    )
    live = lsh_index_version(spark, idx)
    assert live == 3
    assert len(snaps) == _RETAIN and snaps[-1] == live  # old v* deleted

    full = str(tmp_path / "idx_full")
    lsh_index_build(spark, tbl, full, "doc_id", "text")
    inc = {tuple(r) for r in lsh_index_pairs(spark, idx).collect()}
    ful = {tuple(r) for r in lsh_index_pairs(spark, full).collect()}
    assert inc == ful and len(inc) > 0


@pytest.mark.soak
def test_bm25_index_refresh_equals_full_rebuild(spark, tmp_path):
    """Change-feed maintenance invariant for the BM25 index: after
    append + update + delete commits, the refreshed index serves the
    SAME scores as a from-scratch build at the final version (postings
    and doclen carry over for untouched docs; vocabulary stats
    re-derive from the maintained relations)."""
    from lakeapi_spark.operators.incremental import (
        bm25_index_build_delta,
        bm25_index_refresh_delta,
        bm25_index_scores_delta,
        bm25_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    rows = [(i, f"spark window doc{i} " + "filler " * (i % 5)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = str(tmp_path / "docs")
    write_delta(df, tbl, configuration={"delta.enableChangeDataFeed": "true"})
    idx = str(tmp_path / "idx")
    bm25_index_build_delta(spark, tbl, idx, "doc_id", "text")

    write_delta(
        spark.createDataFrame(
            [(100, "spark spark window brand new")], "doc_id long, text string"
        ),
        tbl,
    )
    update_delta(spark, tbl, {"text": "concat(text, ' window')"}, "doc_id = 3")
    delete_delta(spark, tbl, "doc_id = 7")

    v, n_touched = bm25_index_refresh_delta(spark, tbl, idx, "doc_id", "text")
    assert (v, bm25_index_version(spark, idx)) == (3, 3)
    assert n_touched == 3

    full = str(tmp_path / "idx_full")
    bm25_index_build_delta(spark, tbl, full, "doc_id", "text")
    inc = {tuple(r) for r in bm25_index_scores_delta(spark, idx, "spark window").collect()}
    ful = {tuple(r) for r in bm25_index_scores_delta(spark, full, "spark window").collect()}
    assert inc == ful and len(inc) > 0
    assert 7 not in {t[0] for t in inc}  # deleted doc scores nothing

    # idempotent no-op when the table hasn't moved
    assert bm25_index_refresh_delta(spark, tbl, idx, "doc_id", "text") == (3, 0)


@pytest.mark.soak
def test_ivf_index_refresh_equals_full_rebuild(spark, tmp_path):
    """Change-feed maintenance invariant for the IVF index: after
    append + update + delete commits, the refreshed index (frozen
    centroids, churn-only assignment) serves the SAME top-k as a
    from-scratch build at the final version, retention bounds the v{N}
    snapshot dirs, and the refresh touches only the churned ids."""
    import os
    import re

    import numpy as np

    from lakeapi_spark.operators.incremental import (
        _RETAIN,
        ivf_index_build_delta,
        ivf_index_refresh_delta,
        ivf_index_topk_delta,
        ivf_index_version,
    )
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tbl = str(tmp_path / "emb")
    write_delta(df, tbl, configuration={"delta.enableChangeDataFeed": "true"})
    idx = str(tmp_path / "idx")
    cent_ids = [0, 1, 2, 3]
    ivf_index_build_delta(spark, tbl, idx, "vec_id", "embedding", cent_ids)

    write_delta(
        spark.createDataFrame(
            [(100, [float(x) for x in rng.randn(8)])],
            "vec_id long, embedding array<double>",
        ),
        tbl,
    )
    update_delta(spark, tbl, {"embedding": "reverse(embedding)"}, "vec_id = 17")
    delete_delta(spark, tbl, "vec_id = 23")

    v, n_touched = ivf_index_refresh_delta(spark, tbl, idx, "vec_id", "embedding")
    assert (v, ivf_index_version(spark, idx)) == (3, 3)
    assert n_touched == 3  # 100 inserted, 17 updated, 23 deleted

    full = str(tmp_path / "idx_full")
    ivf_index_build_delta(spark, tbl, full, "vec_id", "embedding", cent_ids)
    q = spark.createDataFrame(
        [(5, rows[5][1]), (6, rows[6][1])], "vec_id long, embedding array<double>"
    )
    inc = {
        tuple(r)
        for r in ivf_index_topk_delta(spark, idx, q, "vec_id", "embedding", k=5).collect()
    }
    ful = {
        tuple(r)
        for r in ivf_index_topk_delta(spark, full, q, "vec_id", "embedding", k=5).collect()
    }
    assert inc == ful and len(inc) > 0
    assert 23 not in {t[1] for t in inc}  # deleted vector serves no neighbors

    snaps = [d for d in os.listdir(idx) if re.fullmatch(r"v\d+", d)]
    assert len(snaps) <= _RETAIN  # retention shared by every index

    # idempotent no-op when the table hasn't moved
    assert ivf_index_refresh_delta(spark, tbl, idx, "vec_id", "embedding") == (3, 0)


def test_average_precision_known_values_and_ties(spark):
    from lakeapi_spark.operators.stats import average_precision

    # g=a: scores 3,2,1 labels 1,0,1 -> AP = (1/1 + 2/3)/2 = 0.833333
    # g=b: tied top scores (2,2) with one positive -> threshold 2 has
    # precision 1/2; AP = (1/2 + 2/3)/2 = 0.583333
    df = spark.createDataFrame(
        [("a", 3, 1), ("a", 2, 0), ("a", 1, 1),
         ("b", 2, 1), ("b", 2, 0), ("b", 1, 1)],
        "g string, s long, y long",
    )
    out = {r.g: r for r in average_precision(df, ["g"], "s", "y").collect()}
    assert (out["a"].n_pos, out["a"].n, out["a"].ap) == (2, 3, 0.833333)
    assert (out["b"].n_pos, out["b"].n, out["b"].ap) == (2, 3, 0.583333)
    # all-negative group drops
    neg = spark.createDataFrame([("z", 1, 0)], "g string, s long, y long")
    assert average_precision(neg, ["g"], "s", "y").count() == 0


def test_acf_zero_filled_known_series_and_gaps(spark):
    from lakeapi_spark.operators.stats import acf_zero_filled

    # x = [1,2,3,4]: dev [-1.5,-.5,.5,1.5], den 5
    # lag1 1.25/5=0.25, lag2 -1.5/5=-0.3, lag3 -2.25/5=-0.45
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "d long, x long"
    )
    out = {r.lag: r for r in acf_zero_filled(df, "d", "x", max_lag=3).collect()}
    assert [out[k].n_pairs for k in (1, 2, 3)] == [3, 2, 1]
    assert [out[k].acf for k in (1, 2, 3)] == [0.25, -0.3, -0.45]

    # a missing day counts as 0: days (0,1,3) == explicit series [2,4,0,6]
    gap = spark.createDataFrame([(0, 2), (1, 4), (3, 6)], "d long, x long")
    dense = spark.createDataFrame(
        [(0, 2), (1, 4), (2, 0), (3, 6)], "d long, x long"
    )
    got = sorted(tuple(r) for r in acf_zero_filled(gap, "d", "x", 3).collect())
    want = sorted(tuple(r) for r in acf_zero_filled(dense, "d", "x", 3).collect())
    assert got == want


def test_isotonic_minimax_matches_pav(spark):
    """The declarative minimax isotonic fit equals the classic
    sequential pool-adjacent-violators algorithm on random weighted
    bins, and the fit is monotone non-decreasing."""
    import random

    from lakeapi_spark.operators.stats import isotonic_fit_minimax

    def pav(ps, ns):
        # blocks of [pos_sum, n_sum, n_bins]; pool while out of order
        # (rate comparison in exact integer cross-multiplication)
        blocks = []
        for p, n in zip(ps, ns):
            blocks.append([p, n, 1])
            while len(blocks) > 1 and (
                blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
            ):
                p2, n2, c2 = blocks.pop()
                blocks[-1][0] += p2
                blocks[-1][1] += n2
                blocks[-1][2] += c2
        fitted = []
        for p, n, c in blocks:
            fitted.extend([p / n] * c)
        return fitted

    rng = random.Random(99)
    for trial in range(5):
        B = 12
        ns = [rng.randint(1, 50) for _ in range(B)]
        ps = [rng.randint(0, n) for n in ns]
        df = spark.createDataFrame(
            list(zip(range(B), ps, ns)), "b long, p long, n long"
        )
        got = {
            r.bin: r.iso_rate
            for r in isotonic_fit_minimax(df, "b", "p", "n").collect()
        }
        want = pav(ps, ns)
        for i in range(B):
            assert got[i] == round(want[i], 6), (trial, i, got[i], want[i])
        vals = [got[i] for i in range(B)]
        assert vals == sorted(vals)  # monotone


def test_bootstrap_mean_ci_brackets_and_deterministic(spark):
    """The Poisson-bootstrap CI brackets the sample mean, is ordered,
    and — being hash-derandomized — is bit-identical across runs."""
    from lakeapi_spark.operators.stats import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 50) for i in range(500)], "id long, x long"
    )
    r1 = bootstrap_mean_ci(df, "id", "x", n_reps=40, trim=1).collect()[0]
    r2 = bootstrap_mean_ci(df, "id", "x", n_reps=40, trim=1).collect()[0]
    assert tuple(r1) == tuple(r2)  # derandomized: no run-to-run wobble
    assert r1.n_replicates == 40
    assert r1.ci_lo < r1.mean_full < r1.ci_hi
    true_mean = sum(100 + (i * 37) % 50 for i in range(500)) / 500
    assert r1.mean_full == round(true_mean, 6)
    # interval is tight at n=500 (std/sqrt(n) scale, not percentile-wide)
    assert (r1.ci_hi - r1.ci_lo) < 10


def test_jaro_winkler_matches_duckdb_exactly():
    """The kernel's contract is BIT-IDENTITY with DuckDB's
    jaro_winkler_similarity (that's what lets the oracle use the
    built-in): differential check over random pairs incl. empties,
    transpositions, and shared prefixes — exact doubles, no rounding."""
    import random

    import duckdb

    from lakeapi_spark.operators.joins import _jaro_winkler

    con = duckdb.connect()
    rng = random.Random(1234)
    for _ in range(2000):
        a = "".join(rng.choices("abcdef ", k=rng.randint(0, 16)))
        b = "".join(rng.choices("abcdef ", k=rng.randint(0, 16)))
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert _jaro_winkler(a, b) == want, (a, b)
    # pinned classics
    assert round(_jaro_winkler("martha", "marhta"), 6) == 0.961111
    assert _jaro_winkler("", "") == 0.0
    assert _jaro_winkler("abc", "abc") == 1.0
    assert _jaro_winkler("ab", "ba") == 0.0


def test_rrf_fuse_known_values(spark):
    from lakeapi_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id long, rank long")
    b = spark.createDataFrame([(20, 1), (10, 2), (40, 3)], "id long, rank long")
    out = {r.id: r for r in rrf_fuse([a, b]).collect()}
    # both-list docs beat single-list docs; 10 and 20 tie exactly
    # (1/61 + 1/62 each) -> tie broken by id
    assert out[10].n_lists == 2 and out[20].n_lists == 2
    assert out[10].rrf_score == out[20].rrf_score
    assert (out[10].rank, out[20].rank) == (1, 2)
    assert out[30].n_lists == 1 and out[40].n_lists == 1
    # 30 and 40 both rank 3 in their lists -> identical score, id tiebreak
    assert (out[30].rank, out[40].rank) == (3, 4)
    assert out[10].rrf_score == round(1 / 61 + 1 / 62, 6)


def test_ndcg_perfect_and_inverted_rankings(spark):
    from lakeapi_spark.operators.stats import ndcg_at_k

    # score ordering == relevance ordering -> NDCG 1.0
    perfect = [("p", i, 10 - i, 10 - i) for i in range(10)]
    # score ordering inverts relevance -> NDCG < 1
    inverted = [("i", i, i, 10 - i) for i in range(10)]
    df = spark.createDataFrame(
        perfect + inverted, "g string, rid long, score long, rel long"
    )
    out = {r.g: r for r in ndcg_at_k(df, ["g"], "score", "rel", ["rid"], k=10).collect()}
    assert out["p"].ndcg == 1.0
    assert 0 < out["i"].ndcg < 1.0
    assert out["i"].idcg == out["p"].idcg  # ideal gain is ranking-independent


def test_k_anonymity_flags(spark):
    from lakeapi_spark.operators.expectations import k_anonymity_report

    rows = (
        [("a", "x", i) for i in range(12)]          # big group, diverse: clean
        + [("b", "x", 1), ("b", "x", 1)]            # small AND single-valued
        + [("c", "y", i % 2) for i in range(15)]    # big, 2 values: clean
    )
    df = spark.createDataFrame(rows, "q1 string, q2 string, s long")
    out = {(r.q1, r.q2): r for r in
           k_anonymity_report(df, ["q1", "q2"], "s", k=10, l_div=2).collect()}
    assert not out[("a", "x")].k_violation and not out[("a", "x")].l_violation
    assert out[("b", "x")].k_violation and out[("b", "x")].l_violation
    assert out[("b", "x")].n_rows == 2 and out[("b", "x")].n_sensitive == 1
    assert not out[("c", "y")].k_violation and not out[("c", "y")].l_violation


def test_cuped_recovers_theta_and_corrects_imbalance(spark):
    """Balanced covariate: y = 3x + 5*1{v1} with identical x sets per
    variant -> pooled theta is exactly 3 and both raw and adjusted
    differences equal the true +5. Imbalanced covariate (v1's x
    shifted): the adjusted difference lands strictly closer to the
    true effect than the raw difference — the point of CUPED."""
    from lakeapi_spark.operators.stats import cuped_adjusted_means

    balanced = [(v, float(i), 3.0 * i + (5.0 if v == 1 else 0.0))
                for v in (0, 1) for i in range(10)]
    df = spark.createDataFrame(balanced, "variant int, x double, y double")
    out = {r.variant: r for r in
           cuped_adjusted_means(df, "variant", "x", "y").collect()}
    assert out[0].theta == 3.0
    assert round(out[1].mean_post_adj - out[0].mean_post_adj, 6) == 5.0

    # v1's covariate shifted +2 (sampling imbalance): raw diff = 11
    imb = [(0, float(i), 3.0 * i) for i in range(10)] + [
        (1, float(i + 2), 3.0 * (i + 2) + 5.0) for i in range(10)
    ]
    df2 = spark.createDataFrame(imb, "variant int, x double, y double")
    o2 = {r.variant: r for r in
          cuped_adjusted_means(df2, "variant", "x", "y").collect()}
    raw_diff = o2[1].mean_post - o2[0].mean_post
    adj_diff = o2[1].mean_post_adj - o2[0].mean_post_adj
    assert abs(adj_diff - 5.0) < abs(raw_diff - 5.0)


def test_conformal_interval_rank_rule_and_coverage(spark):
    from lakeapi_spark.operators.stats import conformal_interval_report

    # 9 calibration residuals 1..9 (pred = 0), alpha = 0.1:
    # k = ceil(10 * 0.9) = 9 -> q_hat = 9th smallest = 9.0
    rows = [("cal", float(i), 0.0) for i in range(1, 10)] + [
        ("test", 5.0, 0.0),   # |r| = 5 <= 9: covered
        ("test", 9.0, 0.0),   # boundary: covered (<=)
        ("test", 12.0, 0.0),  # not covered
    ]
    df = spark.createDataFrame(rows, "split string, y double, pred double")
    r = conformal_interval_report(df, "split", "y", "pred", alpha=0.1).collect()[0]
    assert (r.n_cal, r.k, r.q_hat) == (9, 9, 9.0)
    assert (r.n_test, r.n_covered) == (3, 2)
    # tiny-split clamp: k = ceil(3 * 0.9) = 3 > n_cal=2 -> q = max resid
    small = [("cal", 1.0, 0.0), ("cal", 4.0, 0.0), ("test", 4.0, 0.0)]
    r2 = conformal_interval_report(
        spark.createDataFrame(small, "split string, y double, pred double"),
        "split", "y", "pred", alpha=0.1,
    ).collect()[0]
    assert r2.q_hat == 4.0 and r2.n_covered == 1


def test_exp_smooth_backtest_matches_hand_recursion(spark):
    from lakeapi_spark.operators.windows import exp_smooth_backtest

    xs = [1_000_000, 2_000_000, 500_000, 3_000_000]
    rows = [(7, i, i, x) for i, x in enumerate(xs)] + [(8, 0, 0, 9)]
    df = spark.createDataFrame(rows, "k long, ts long, tb long, x long")
    out = {r.k: r for r in
           exp_smooth_backtest(df, "k", "ts", "tb", "x", alpha_num=300).collect()}
    assert 8 not in out  # single observation: nothing to forecast
    s, sae = xs[0], 0
    for x in xs[1:]:
        sae += abs(x - s)
        s = (300 * x + 700 * s) // 1000
    assert (out[7].n_events, out[7].n_pred, out[7].sae) == (4, 3, sae)


def test_holt_backtest_tracks_trend_ses_lags(spark):
    """On a perfectly linear series Holt's l+b forecast converges onto
    the trend while flat SES lags by construction: Holt's accumulated
    one-step error must come out strictly smaller. Also pins the
    toward-zero division semantics with a hand-replayed recursion."""
    from lakeapi_spark.operators.windows import (
        exp_smooth_backtest,
        holt_smooth_backtest,
    )

    xs = [1_000_000 * (i + 1) for i in range(12)]  # steady +1M trend
    rows = [(1, i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k long, ts long, tb long, x long")
    holt = holt_smooth_backtest(df, "k", "ts", "tb", "x", 300, 100).collect()[0]
    ses = exp_smooth_backtest(df, "k", "ts", "tb", "x", 300).collect()[0]
    assert holt.sae < ses.sae

    def tdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    lvl, trd, sae = xs[0], 0, 0
    for x in xs[1:]:
        f = lvl + trd
        sae += abs(x - f)
        new_l = tdiv(300 * x + 700 * f, 1000)
        trd = tdiv(100 * (new_l - lvl) + 900 * trd, 1000)
        lvl = new_l
    assert (holt.level, holt.trend, holt.sae) == (lvl, trd, sae)


def test_personalized_pagerank_concentrates_on_seed_side(spark):
    from lakeapi_spark.operators.graph import pagerank, personalized_pagerank

    # barbell: clique {1,2,3} - bridge - clique {10,11,12}; seeding at 1
    # must rank the seed clique above the far one; global PR is symmetric
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ppr = {r.node: r.pr for r in personalized_pagerank(edges, seeds, iters=3).collect()}
    assert ppr[1] > ppr[11] and ppr[2] > ppr[11]
    gpr = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
    assert gpr[2] == gpr[11]  # symmetric graph: global PR can't tell sides
    # seeds outside the graph don't deflate the teleport share
    seeds2 = spark.createDataFrame([(1,), (999,)], "node long")
    ppr2 = {r.node: r.pr for r in personalized_pagerank(edges, seeds2, iters=3).collect()}
    assert ppr2 == ppr


def test_spearman_monotone_and_tie_handling(spark):
    from lakeapi_spark.operators.stats import spearman_corr

    # y = x^3 is perfectly monotone (Pearson < 1, Spearman = 1);
    # reversed gives -1; a constant column drops
    rows = (
        [("up", float(i), float(i) ** 3) for i in range(10)]
        + [("down", float(i), -float(i) ** 3) for i in range(10)]
        + [("flat", float(i), 1.0) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in spearman_corr(df, ["g"], "x", "y").collect()}
    assert set(out) == {"up", "down"}
    assert out["up"].spearman_rho == 1.0
    assert out["down"].spearman_rho == -1.0

    # ties: midranks keep rho exact — expectation re-derived by hand
    # with the same doubled-midrank formula 2mr = 2*(rank-1) + ties + 1
    tied = [("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0), ("t", 3.0, 3.0)]
    r = spearman_corr(
        spark.createDataFrame(tied, "g string, x double, y double"), ["g"], "x", "y"
    ).collect()[0]

    def mr2(vals):
        return [2 * sorted(vals).index(v) + vals.count(v) + 1 for v in vals]

    rx, ry = mr2([1.0, 1.0, 2.0, 3.0]), mr2([1.0, 2.0, 3.0, 3.0])
    n = 4
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx); syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    import math

    expect = round(
        (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
    )
    assert r.spearman_rho == expect


def test_kendall_tau_trend_directions_and_ties(spark):
    from lakeapi_spark.operators.stats import kendall_tau_trend

    rows = (
        [("up", i, float(i * i)) for i in range(6)]          # monotone: tau 1
        + [("down", i, float(-i)) for i in range(6)]          # tau -1
        + [("flat", i, 5.0) for i in range(6)]                # all ties: tau 0
        + [("solo", 0, 1.0)]                                  # <2 points: drops
    )
    df = spark.createDataFrame(rows, "g string, x int, y double")
    out = {r.g: r for r in kendall_tau_trend(df, ["g"], "x", "y").collect()}
    assert set(out) == {"up", "down", "flat"}
    assert out["up"].tau == 1.0 and out["up"].n_pairs == 15
    assert out["down"].tau == -1.0
    assert out["flat"].tau == 0.0 and out["flat"].n_concordant == 0


def test_pearson_corr_signs_and_null_variance(spark):
    from lakeapi_spark.operators.stats import pearson_corr

    rows = [("g", float(x), 2.0 * x, -x + 100.0, 5.0) for x in range(20)]
    df = spark.createDataFrame(rows, "g string, x double, y double, z double, c double")
    out = pearson_corr(
        df, ["g"], [("x", "y", "r_xy"), ("x", "z", "r_xz"), ("x", "c", "r_xc")]
    ).collect()[0]
    assert out.n_rows == 20
    assert out.r_xy == 1.0  # perfectly linear up
    assert out.r_xz == -1.0  # perfectly linear down
    assert out.r_xc is None  # constant column: zero variance -> NULL


def test_gapfill_linear_interpolates_interior_gaps(spark):
    from lakeapi_spark.operators.windows import gapfill_linear

    # observations at hours 0 and 4 (values 10 -> 30): gap hours 1-3
    # interpolate to 15, 20, 25; a second key with one obs has no gaps
    rows = [(1, 0, 10.0), (1, 4 * 3600, 30.0), (2, 0, 7.0)]
    df = spark.createDataFrame(rows, "k long, es long, value double").select(
        "k", F.timestamp_seconds("es").alias("ts"), "value"
    )
    out = gapfill_linear(df, "ts", "k", 3600, F.round(F.sum("value"), 2), "v")
    got = {(r.k, r.bucket): (r.is_gap, r.filled_value) for r in out.collect()}
    assert got[(1, 0)] == (False, 10.0)
    assert got[(1, 3600)] == (True, 15.0)
    assert got[(1, 2 * 3600)] == (True, 20.0)
    assert got[(1, 3 * 3600)] == (True, 25.0)
    assert got[(1, 4 * 3600)] == (False, 30.0)
    assert got[(2, 0)] == (False, 7.0)
    assert len(got) == 6


def test_gapfill_linear_halfway_rounding_is_half_up(spark):
    from lakeapi_spark.operators.windows import gapfill_linear

    # 8-hour gap between 0.00 and 0.01: hour 1 is 0.01/8 = 0.00125 — an
    # EXACT tie at 4 digits; integer half-up must give 0.0013, the same
    # answer the decimal-exact SQL oracle derives
    rows = [(1, 0, 0.0), (1, 8 * 3600, 0.01)]
    df = spark.createDataFrame(rows, "k long, es long, value double").select(
        "k", F.timestamp_seconds("es").alias("ts"), "value"
    )
    out = gapfill_linear(df, "ts", "k", 3600, F.round(F.sum("value"), 2), "v")
    got = {r.bucket: r.filled_value for r in out.collect()}
    assert got[3600] == 0.0013
    assert got[4 * 3600] == 0.005


def test_kmv_estimate_matches_python_replication(spark):
    import hashlib

    from lakeapi_spark.operators.sketches import kmv_build, kmv_estimate

    keys = [f"u{i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    sk = kmv_build(df, "k", (), k=16)
    est = kmv_estimate(sk, (), k=16).collect()[0]
    # replicate: bottom-16 of md5-60bit hashes, estimator (k-1)*2^60/h_k
    hs = sorted(
        int(hashlib.md5(f"kmv0:{k}".encode()).hexdigest()[:15], 16) for k in keys
    )
    assert est.n_obs == 16
    assert est.n_est == round(15.0 * float(1 << 60) / float(hs[15]), 2)
    # small input takes the exact branch
    tiny = spark.createDataFrame([("a",), ("b",), ("a",)], "k string")
    e2 = kmv_estimate(kmv_build(tiny, "k", (), k=16), (), k=16).collect()[0]
    assert (e2.n_obs, e2.n_est) == (2, 2.0)


def test_kmv_overlap_exact_below_k(spark):
    from lakeapi_spark.operators.sketches import kmv_build, kmv_overlap

    a = spark.createDataFrame([(f"u{i}",) for i in range(10)], "k string")
    b = spark.createDataFrame([(f"u{i}",) for i in range(5, 20)], "k string")
    out = kmv_overlap(
        kmv_build(a, "k", (), k=64), kmv_build(b, "k", (), k=64), k=64
    ).collect()[0]
    # union 20 < k: everything is exact — rho = |A∩B| = 5
    assert (out.n_a, out.n_b, out.rho) == (10, 15, 5)
    assert out.jaccard_est == round(5 / 20, 4)
    assert out.intersection_est == 5.0


def test_novelty_scores_hand_counts(spark):
    from lakeapi_spark.operators.contamination import novelty_scores

    rows = [(1, "a b c d"), (2, "a b c x"), (3, "z z z z z"), (4, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in novelty_scores(df, "doc_id", "text", n=3).collect()}
    # doc 4 (< 3 tokens) drops out; "a b c" is shared, the rest unique
    assert set(out) == {1, 2, 3}
    assert (out[1].n_grams, out[1].n_novel, out[1].novelty) == (2, 1, 0.5)
    assert (out[2].n_grams, out[2].n_novel, out[2].novelty) == (2, 1, 0.5)
    assert (out[3].n_grams, out[3].n_novel, out[3].novelty) == (1, 1, 1.0)


def test_ks_two_sample_hand_cdf(spark):
    from lakeapi_spark.operators.stats import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 3.0), ("b", 4.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "s string, v double")
    out = ks_two_sample(df, "v", "s", "a", "b", scale=100).collect()[0]
    # CDF diff peaks at v=2 and v=3: |2/3 - 0| and |1 - 1/3| = 0.6667
    assert (out.n_a, out.n_b) == (3, 3)
    assert out.ks_stat == 0.6667


def test_interval_overlap_pairs_dedup_and_verify(spark):
    from lakeapi_spark.operators.joins import interval_overlap_pairs

    # A overlaps B (sharing 2 buckets — must still emit ONCE); C is in
    # the same bucket as D but disjoint; E touches F at one second
    rows = [
        ("A", 0, 250), ("B", 100, 400),      # overlap 150s, buckets 0-2 shared
        ("C", 500, 510), ("D", 520, 530),    # same bucket 5, no overlap
        ("E", 700, 800), ("F", 800, 900),    # touching: overlap 0
    ]
    df = spark.createDataFrame(rows, "name string, s long, e long")
    out = interval_overlap_pairs(df, ["name"], "s", "e", 100)
    got = {(r.ia.name, r.ib.name): r.overlap_s for r in out.collect()}
    assert got == {("A", "B"): 150, ("E", "F"): 0}


def test_categorical_dependence_independent_and_perfect(spark):
    import math

    from lakeapi_spark.operators.stats import categorical_dependence

    # perfectly dependent 2x2: MI = ln(2), chi2 = n
    dep = spark.createDataFrame(
        [("a", 1)] * 10 + [("b", 2)] * 10, "x string, y int"
    )
    r = categorical_dependence(dep, "x", "y").collect()[0]
    assert (r.n, r.n_x, r.n_y) == (20, 2, 2)
    assert r.mi_nats == round(math.log(2.0), 6)
    assert r.chi2 == 20.0
    # perfectly independent uniform 2x2: MI = 0, chi2 = 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in (1, 2) for _ in range(5)],
        "x string, y int",
    )
    r2 = categorical_dependence(ind, "x", "y").collect()[0]
    assert (r2.mi_nats, r2.chi2) == (0.0, 0.0)


def test_ewma_halflife_recursion_parity(spark):
    from lakeapi_spark.operators.windows import ewma_halflife

    # constant series -> ewma == the constant; step series follows the
    # alpha=1/2 recursion s_n = (x_n + s_{n-1}) / 2 while n <= window
    rows = [(1, i, 10.0) for i in range(5)] + [(2, 0, 4.0), (2, 1, 8.0), (2, 2, 8.0)]
    df = spark.createDataFrame(rows, "k long, es long, value double").select(
        "k", F.timestamp_seconds("es").alias("ts"), F.col("es").alias("event_id"), "value"
    )
    out = ewma_halflife(df, "ts", "k", "value", "event_id", window=8)
    got = {(r.k, r.e): r.ewma for r in out.collect()}
    assert all(got[(1, i)] == 10.0 for i in range(5))
    assert got[(2, 0)] == 4.0
    assert got[(2, 1)] == round((8.0 * 2 + 4.0) / 3, 4)  # weights 2,1 -> 20/3
    assert got[(2, 2)] == round((8.0 * 4 + 8.0 * 2 + 4.0) / 7, 4)  # 44/7


def test_perceptual_dhash_identical_and_invalid(spark):
    from lakeapi_spark.operators.multimodal import (
        attach_real_png_payload,
        perceptual_dhash,
    )

    rows = [(2, "hello world, a picture"), (4, "hello world, a picture"), (3, "zz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in perceptual_dhash(
        attach_real_png_payload(df, "doc_id", "text")
    ).collect()}
    assert all(out[i].valid for i in (2, 3, 4))
    # identical pixels -> identical hash; both halves fit in 32 bits
    assert (out[2].hash_hi, out[2].hash_lo) == (out[4].hash_hi, out[4].hash_lo)
    for r in out.values():
        assert 0 <= r.hash_hi < 2**32 and 0 <= r.hash_lo < 2**32
    # corrupt payload -> valid=false row, not an exception
    bad = spark.createDataFrame([(9, bytearray(b"nope"))], "id long, payload binary")
    vr = perceptual_dhash(bad).collect()[0]
    assert vr.valid is False and vr.hash_hi is None


def test_jpeg_decode_general_ac_coefficients(spark):
    """The documents fixture only exercises DC+EOB blocks; this
    hand-built scan carries a nonzero AC coefficient behind a zero run,
    so the decoder's run-length AC path, zigzag placement and full IDCT
    are exercised. Expected pixels re-derived with an independent
    float64 IDCT in the test."""
    import math
    import struct

    import numpy as np

    from lakeapi_spark.operators.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        JPEG_ZIGZAG,
        _jpeg_canonical_codes,
        jpeg_decode_real,
    )

    dc_codes = _jpeg_canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)

    out_bits: list[int] = []

    def put(code: int, ln: int) -> None:
        out_bits.extend((code >> (ln - 1 - i)) & 1 for i in range(ln))

    # one 8x8 block: DC diff = +40 (category 6), then run=2/size=3
    # amplitude +5 at zigzag index 3, then EOB
    put(*dc_codes[6]); put(40, 6)
    put(*ac_codes[(2 << 4) | 3]); put(5, 3)
    put(*ac_codes[0x00])
    while len(out_bits) % 8:
        out_bits.append(1)  # 1-fill padding
    scan = bytearray()
    for i in range(0, len(out_bits), 8):
        b = int("".join(map(str, out_bits[i : i + 8])), 2)
        scan.append(b)
        if b == 0xFF:
            scan.append(0x00)

    def seg(marker, data):
        return struct.pack(">HH", marker, len(data) + 2) + data

    jpg = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0]) + bytes([2] * 64))  # uniform quantizer 2
        + seg(0xFFC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(scan)
        + b"\xff\xd9"
    )
    df = spark.createDataFrame([(1, bytearray(jpg))], "id long, payload binary")
    r = jpeg_decode_real(df).collect()[0]
    assert r.valid and (r.width, r.height, r.n_px) == (8, 8, 64)

    # independent expectation: coefficients * quant, full IDCT
    coeff = np.zeros(64)
    coeff[0] = 40 * 2
    coeff[JPEG_ZIGZAG[3]] = 5 * 2  # run 2 advances k 1->3
    M = np.array(
        [
            [
                (math.sqrt(0.5) if u == 0 else 1.0) / 2.0
                * math.cos((2 * x + 1) * u * math.pi / 16.0)
                for u in range(8)
            ]
            for x in range(8)
        ]
    )
    px = np.clip(np.rint(M @ coeff.reshape(8, 8) @ M.T + 128.0), 0, 255).astype(int)
    flat = px.reshape(-1)
    assert r.pixel_sum == int(flat.sum())
    assert r.pixel_checksum == int((np.arange(1, 65) * flat).sum())


def test_jpeg_decode_rejects_malformed(spark):
    from lakeapi_spark.operators.multimodal import jpeg_decode_real

    rows = [
        (1, bytearray(b"nope")),                      # no SOI
        (2, bytearray(b"\xff\xd8\xff\xc2\x00\x04\x08\x00\xff\xd9")),  # progressive
        (3, bytearray(b"\xff\xd8\xff\xdb\x00\x05\x00\x01")),          # truncated
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = jpeg_decode_real(df).collect()
    assert all(r.valid is False and r.width is None for r in out)


def test_woe_iv_separating_category(spark):
    import math

    from lakeapi_spark.operators.stats import woe_iv

    # category "a": all positive; "b": all negative
    rows = [("a", True)] * 8 + [("b", False)] * 4
    df = spark.createDataFrame(rows, "c string, f boolean")
    out = {r.c: r for r in woe_iv(df, "c", "f").collect()}
    pr_a, nr_a = 8.5 / 9.0, 0.5 / 5.0
    assert (out["a"].n, out["a"].n_pos, out["a"].n_neg) == (8, 8, 0)
    assert out["a"].woe == round(math.log(pr_a / nr_a), 6)
    assert out["a"].iv_term == round((pr_a - nr_a) * math.log(pr_a / nr_a), 6)
    assert out["b"].woe < 0


def test_growth_accounting_classes(spark):
    from lakeapi_spark.operators.windows import growth_accounting

    day = 86400
    # u1: days 0,1 (new, retained), then day 20 (resurrected)
    # u2: day 1 only (new); two events same day collapse to one active-day
    rows = [(1, 0), (1, day), (1, 20 * day), (2, day), (2, day + 5)]
    df = spark.createDataFrame(rows, "u long, es long").select(
        "u", F.timestamp_seconds("es").alias("ts")
    )
    out = {r.day: r for r in growth_accounting(df, "ts", "u", 7).collect()}
    assert (out[0].n_active, out[0].n_new) == (1, 1)
    assert (out[1].n_active, out[1].n_new, out[1].n_retained) == (2, 1, 1)
    assert (out[20].n_active, out[20].n_resurrected) == (1, 1)


def test_weighted_median_pick_rule(spark):
    from lakeapi_spark.operators.stats import weighted_median

    # g: values 1.0 (w=1), 2.0 (w=2), 3.0 (w=1): total 4, 2*cum>=4 at 2.0
    # h: single heavy value dominates
    rows = [("g", 1.0, 1), ("g", 2.0, 2), ("g", 3.0, 1), ("h", 9.0, 5), ("h", 1.0, 1)]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    out = {r.g: r for r in weighted_median(df, ["g"], "v", "w").collect()}
    assert (out["g"].total_w, out["g"].w_median) == (4, 2.0)
    assert (out["h"].total_w, out["h"].w_median) == (6, 9.0)


def test_mmr_select_prefers_diversity(spark):
    from lakeapi_spark.operators.similarity import mmr_select

    # query 0 at [1,0]; candidate 2 is an exact-direction duplicate of
    # candidate 1 (cosine 1.0), candidate 3 is orthogonal to 1. Pure
    # top-2 by relevance = {1, 2} (tie -> lower id first); MMR's
    # second pick takes the full sim=1.0 penalty on 2
    # (0.5*0.9901 - 0.5*1.0 < 0.5*0.14 - 0) and must pick 3 instead.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.14]),
        (2, [1.98, 0.28]),
        (3, [0.14, -0.99]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_select(df, "vec_id", "embedding", query_id=0, n_candidates=3, k=2)
    got = [(r.rank, r.vec_id) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 3)]
    r1 = out.filter(F.col("rank") == 1).collect()[0]
    assert r1.mmr_score == r1.relevance


def test_largest_remainder_allocation_exact(spark):
    from lakeapi_spark.operators.stats import largest_remainder_allocation

    # equal weights, total 10 over 3 rows: base 3 each, remainder 1 goes
    # to the lowest linenumber (all mods tie)
    rows = [("g", 1, 3, 10), ("g", 2, 3, 10), ("g", 3, 3, 10),
            ("h", 1, 1, 7), ("h", 2, 2, 7)]  # h: bases 2,4 rem 1 -> mods 1,2
    df = spark.createDataFrame(rows, "k string, ln int, w long, t long")
    out = {(r.k, r.ln): r for r in
           largest_remainder_allocation(df, "k", "w", "t", "ln").collect()}
    assert [out[("g", i)].allocated for i in (1, 2, 3)] == [4, 3, 3]
    assert out[("g", 1)].bumped and not out[("g", 2)].bumped
    # invariant: per-group allocations sum exactly to the total
    assert sum(out[("h", i)].allocated for i in (1, 2)) == 7
    assert [out[("h", i)].allocated for i in (1, 2)] == [2, 5]


def test_largest_remainder_rollup_matches_row_level(spark):
    """The closed-form rollup must reproduce the row-level operator's
    per-rollup-key sums on planted data covering every branch: normal
    groups, a zero-weight-sum group (NULL allocations), a negative
    total (rem < 0: zero bumps), and a total far above the weight
    mass."""
    from lakeapi_spark.operators.stats import (
        largest_remainder_allocation,
        largest_remainder_rollup,
    )

    facts = [
        ("a", 1, 3), ("a", 2, 3), ("a", 3, 3),      # rem 1 -> 1 bump
        ("b", 1, 1), ("b", 2, 2),                    # rem 1 -> 1 bump
        ("z", 1, 0), ("z", 2, 0),                    # W = 0 -> NULLs
        ("n", 1, 5), ("n", 2, 5),                    # t < 0 -> rem < 0
        ("big", 1, 1), ("big", 2, 1),                # t >> W path
    ]
    headers = [
        ("a", "P1", 10), ("b", "P1", 7), ("z", "P2", 9),
        ("n", "P2", -3), ("big", "P3", 1000001),
    ]
    f = spark.createDataFrame(facts, "k string, ln int, w long")
    h = spark.createDataFrame(headers, "hk string, pri string, t long")
    joined = f.join(h, f.k == h.hk).select("k", "ln", "w", "t", "pri")
    row_level = largest_remainder_allocation(
        joined, "k", "w", "t", "ln", passthrough=["pri"]
    )
    want = {
        (r.pri): (r.n_items, r.alloc_cents, r.n_bumped)
        for r in row_level.groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("allocated").cast("long").alias("alloc_cents"),
            F.sum(F.col("bumped").cast("long")).alias("n_bumped"),
        )
        .collect()
    }
    got = {
        (r.pri): (r.n_items, r.alloc_cents, r.n_bumped)
        for r in largest_remainder_rollup(
            f, "k", "w", h, "hk", "t", ["pri"]
        ).collect()
    }
    assert got == want
    # spot-check the planted expectations themselves
    assert got["P1"] == (5, 17, 2)
    # z is all-NULL (skipped by SUM); n: bases -1,-1 (div truncates
    # toward zero), rem -1 -> 0 bumps, alloc -2
    assert got["P2"] == (4, -2, 0)
    assert got["P3"] == (2, 1000001, 1)


def test_gini_concentration_bounds(spark):
    from lakeapi_spark.operators.stats import gini_concentration

    rows = [("eq", i, 5.0) for i in range(4)] + [
        ("top", 0, 0.0), ("top", 1, 0.0), ("top", 2, 0.0), ("top", 3, 10.0)]
    df = spark.createDataFrame(rows, "g string, ent long, v double")
    out = {r.g: r for r in
           gini_concentration(df, ["g"], "ent", "v", value_scale=1).collect()}
    assert out["eq"].gini == 0.0           # perfectly equal
    assert out["top"].gini == 0.75         # (2*4*10 - 5*10) / (4*10)
    assert out["top"].n_entities == 4


def test_running_balance_floor_matches_naive(spark):
    from lakeapi_spark.operators.windows import running_balance_floor

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    deltas = {1: [5, -10, 3, -1], 2: [-3, 4, 4, -20, 2]}
    rows = [(u, t0 + dt.timedelta(minutes=i), i, d)
            for u, ds in deltas.items() for i, d in enumerate(ds)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, eid long, d long")
    out = {r.u: r for r in
           running_balance_floor(df, "u", "ts", "eid", "d").collect()}
    for u, ds in deltas.items():
        b, nf = 0, 0
        for d in ds:
            raw = b + d
            if raw < 0:
                nf += 1
            b = max(raw, 0)
        assert (out[u].final_balance, out[u].n_floored, out[u].n_events) == (
            b, nf, len(ds)), u


def test_bfs_hops_path_graph(spark):
    from lakeapi_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    # node 4 is 3 hops away, 7/8 disconnected: neither appears
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_hops_broadcast_budget_fallback(spark):
    """VERDICT r10 wrong-item #2: a dense graph's frontier can outgrow
    the broadcast budget mid-expansion. The per-round persist+count
    now flips later rounds to the co-partitioned plan instead of
    broadcast-OOMing: a star-of-stars whose round-2 frontier (60
    leaves) crosses broadcast_limit=10 must still return exact
    min-hop distances, with fewer broadcast hints in the plan than the
    unlimited run."""
    from lakeapi_spark.operators.graph import bfs_hops

    # seed 0 -> hubs 1,2 -> 30 leaves each -> one extra ring node
    rows = [(0, 1), (0, 2)]
    leaf = 10
    for hub in (1, 2):
        for i in range(30):
            rows.append((hub, leaf))
            rows.append((leaf, 1000 + leaf))  # hop-3 layer
            leaf += 1
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")

    def run(**kw):
        handles: list = []
        out = {
            r.node: r.hops
            for r in bfs_hops(
                edges, seeds, max_hops=3, cache_handles=handles, **kw
            ).collect()
        }
        for h in handles:
            h.unpersist()
        return out

    # dense_limit=0 pins the frontier-join plan (the dense single-row
    # path would otherwise absorb this 122-edge graph)
    unlimited = run(dense_limit=0)
    capped = run(broadcast_limit=10)
    plain = run(broadcast_frontier=False)
    dense = run()  # default dense_limit: takes the single-row path
    assert capped == unlimited == plain == dense
    assert unlimited[0] == 0 and unlimited[1] == 1 and unlimited[10] == 2
    assert unlimited[1010] == 3 and len(unlimited) == 123

    # plan shape: the capped run must hint strictly fewer broadcasts
    # (rounds after the crossing run co-partitioned)
    def hints(**kw):
        d = bfs_hops(edges, seeds, max_hops=3, **kw)
        return d._jdf.queryExecution().logical().toString().count("ResolvedHint")

    assert hints(broadcast_limit=10) < hints(dense_limit=0)
    assert hints(broadcast_frontier=False) == 0
    # the dense path's whole expansion is one expression tree: its only
    # hint is the constant 1-row seed-array broadcast, strictly fewer
    # than one per round
    assert hints() <= 1
    spark.catalog.clearCache()


def test_bfs_hops_dense_matches_frontier_plan(spark):
    """The single-row dense path must be hop-for-hop identical to the
    frontier-join plan on an irregular graph: cycle + chords + a
    disconnected island, seeds of both parity, max_hops beyond the
    diameter (later frontiers empty)."""
    import random

    from lakeapi_spark.operators.graph import bfs_hops

    rng = random.Random(13)
    n = 40
    rows = [(i, (i + 1) % n) for i in range(n)]  # ring
    rows += [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]  # chords
    rows += [(100, 101), (101, 102)]  # island (unreached)
    rows = [(a, b) for a, b in rows if a != b]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    for hops in (1, 3, 8):
        dense = {
            r.node: r.hops
            for r in bfs_hops(edges, seeds, max_hops=hops).collect()
        }
        frontier = {
            r.node: r.hops
            for r in bfs_hops(
                edges, seeds, max_hops=hops, dense_limit=0
            ).collect()
        }
        assert dense == frontier, hops
        assert dense[0] == 0 and dense[7] == 0
        assert all(node < 100 for node in dense)
    spark.catalog.clearCache()


def test_wav_energy_signature_dups_and_malformed(spark):
    from lakeapi_spark.operators.multimodal import (
        attach_pcm_wav_payload,
        wav_energy_signature,
    )

    # ids 3 and 67 share a waveform seed family? No — the fixture
    # waveform is a function of the id itself, so identical ids are the
    # only true dups; prove instead that (a) equal payloads produce
    # equal signatures, (b) different audio produces different
    # signatures here, (c) malformed bytes yield valid=false.
    base = spark.createDataFrame([(3,), (3,), (40,)], "sid long")
    media = attach_pcm_wav_payload(base, "sid")
    sigs = wav_energy_signature(media).collect()
    by_id = {}
    for r in sigs:
        assert r.valid
        by_id.setdefault(r.id, set()).add(r.signature)
    assert len(by_id[3]) == 1              # identical audio -> one signature
    assert by_id[3] != by_id[40]           # different audio -> different
    assert sigs[0].n_frames is not None

    bad = spark.createDataFrame(
        [(9, bytearray(b"RIFFxxxxWAVEtruncated"))], "id long, payload binary"
    )
    out = wav_energy_signature(bad).collect()[0]
    assert not out.valid and out.signature is None


def test_running_balance_kernel_batch_carry(spark):
    """The mapInPandas kernel must produce identical results no matter
    how Arrow slices a partition into batches — including a key's rows
    split across batches and a batch boundary exactly on a key edge.
    Drives the REAL kernel generator directly with adversarial splits."""
    import pandas as pd

    from lakeapi_spark.operators.windows import (
        _balance_kernel,
        running_balance_floor,
    )

    staged = spark.createDataFrame(
        [(1, 5), (1, -9), (1, 3), (2, -4), (2, 6), (3, 7)],
        "u long, d long",
    )
    truth = {
        r.u: (r.n_events, r.final_balance, r.n_floored)
        for r in running_balance_floor(
            staged.withColumn("ts", F.col("d") * 0).withColumn("eid", F.lit(0)),
            "u", "ts", "eid", "d",
        ).collect()
    }
    assert truth == {1: (3, 3, 1), 2: (2, 6, 1), 3: (1, 7, 0)}

    rows = [(1, 5), (1, -9), (1, 3), (2, -4), (2, 6), (3, 7)]
    for split in range(1, len(rows)):
        batches = [
            pd.DataFrame(rows[:split], columns=["_k", "_d"]),
            pd.DataFrame(rows[split:], columns=["_k", "_d"]),
        ]
        got = {}
        for f in _balance_kernel(iter(batches)):
            for _, r in f.iterrows():
                got[int(r["_k"])] = (
                    int(r["n_events"]), int(r["final_balance"]), int(r["n_floored"])
                )
        assert got == truth, split


def test_video_frame_sample_malformed_and_bounds(spark):
    from lakeapi_spark.operators.multimodal import (
        attach_video_payload,
        video_frame_sample,
    )

    # well-formed: 6 frames, every_k=2 keeps frames 0,2,4
    df = spark.createDataFrame([(5, "rotate me")], "doc_id long, text string")
    media = attach_video_payload(df, "doc_id", "text", n_frames=6)
    got = video_frame_sample(media, every_k=2).collect()
    assert [(r.frame_idx, r.valid) for r in sorted(got, key=lambda r: r.frame_idx)] \
        == [(0, True), (2, True), (4, True)]
    assert all(r.payload[:8] == b"\x89PNG\r\n\x1a\n" for r in got)

    # malformed containers -> single valid=false row each, no exception
    bad = spark.createDataFrame(
        [
            (1, bytearray(b"NOPE")),                        # bad magic
            (2, bytearray(b"VID0\x00\x00\x00\x02\x00\x00\x00\x10abc")),  # truncated
        ],
        "id long, payload binary",
    )
    out = video_frame_sample(bad).collect()
    assert [(r.id, r.valid, r.frame_idx) for r in sorted(out, key=lambda r: r.id)] \
        == [(64, False, -1), (128, False, -1)]


def test_expectation_report_counts_violations(spark):
    from lakeapi_spark.operators.expectations import expectation_report

    rows = [
        (1, "a@x.io", 5.0, "ok"),
        (2, None, -1.0, "ok"),          # null email, below-min score
        (2, "bad", 120.0, "nope!"),     # dup id, bad regex, above range, bad set
        (3, "c@y.io", 50.0, "ok"),
    ]
    df = spark.createDataFrame(rows, "id long, email string, score double, st string")
    rules = [
        {"name": "id unique", "kind": "unique", "col": "id"},
        {"name": "email present", "kind": "not_null", "col": "email"},
        {"name": "email format", "kind": "regex", "col": "email",
         "pattern": "^[^@]+@[^@]+$"},
        {"name": "score range", "kind": "between", "col": "score",
         "lo": 0.0, "hi": 100.0},
        {"name": "status set", "kind": "in_set", "col": "st",
         "values": ["ok", "ko"]},
        {"name": "score floor", "kind": "min", "col": "score", "value": 0.0},
        {"name": "score cap", "kind": "max", "col": "score", "value": 100.0},
    ]
    out = {r.rule: (r.n_rows, r.n_violations, r.passed)
           for r in expectation_report(df, rules).collect()}
    assert out == {
        "id unique": (4, 1, False),
        "email present": (4, 1, False),
        "email format": (4, 1, False),   # NULL email is not a regex violation
        "score range": (4, 2, False),
        "status set": (4, 1, False),
        "score floor": (4, 1, False),
        "score cap": (4, 1, False),
    }

    ok = expectation_report(df.filter("id = 1"), rules).collect()
    assert all(r.passed for r in ok)


def test_exp_smooth_final_matches_naive(spark):
    from lakeapi_spark.operators.windows import exp_smooth_final

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    xs = {1: [1_000_000, 2_000_000, 500_000], 2: [7_333_331], 3: [9, 10, 11, 12]}
    rows = [(u, t0 + dt.timedelta(minutes=i), i, x)
            for u, vs in xs.items() for i, x in enumerate(vs)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, eid long, x long")
    out = {r.u: r for r in
           exp_smooth_final(df, "u", "ts", "eid", "x", alpha_num=300).collect()}
    for u, vs in xs.items():
        s = vs[0]
        for x in vs[1:]:
            s = (300 * x + 700 * s) // 1000
        assert (out[u].ses_final, out[u].n_events) == (s, len(vs)), u


def test_ses_kernel_batch_carry():
    """Adversarial Arrow batch splits: the SES kernel must be
    insensitive to where a partition's batches are cut, including
    mid-key and exactly on a key edge."""
    import pandas as pd

    from lakeapi_spark.operators.windows import _ses_kernel_factory

    rows = [(1, 100), (1, 200), (1, 50), (2, 10), (2, 20), (3, 7)]

    def run(batches):
        got = {}
        for f in _ses_kernel_factory(300)(iter(batches)):
            for _, r in f.iterrows():
                got[int(r["_k"])] = (int(r["n_events"]), int(r["ses_final"]))
        return got

    truth = run([pd.DataFrame(rows, columns=["_k", "_x"])])
    naive = {}
    for k, x in rows:
        if k not in naive:
            naive[k] = (1, x)
        else:
            n, s = naive[k]
            naive[k] = (n + 1, (300 * x + 700 * s) // 1000)
    assert truth == naive
    for split in range(1, len(rows)):
        batches = [
            pd.DataFrame(rows[:split], columns=["_k", "_x"]),
            pd.DataFrame(rows[split:], columns=["_k", "_x"]),
        ]
        assert run(batches) == truth, split


def test_bootstrap_mean_ci_degenerate_input_keeps_bounds(spark):
    """A tiny input drops replicates whose Poisson weights are all
    zero; the CI bounds must still materialize (ci_hi is rank-picked
    DESCENDING) and n_replicates must report the SURVIVING count so
    the degeneracy is visible, not a silent NULL bound."""
    from lakeapi_spark.operators.stats import bootstrap_mean_ci

    df = spark.createDataFrame([(1, 100), (2, 140)], "id long, x long")
    r = bootstrap_mean_ci(df, "id", "x", n_reps=40, trim=1).collect()[0]
    assert r.n_replicates < 40  # 2-row input: some replicates all-zero
    assert r.ci_lo is not None and r.ci_hi is not None
    assert r.ci_lo <= r.ci_hi


def test_permutation_test_contract_errors(spark):
    """Empty group / out-of-contract group values raise a named
    ValueError at the totals aggregate instead of surfacing as
    int(None) TypeError or ZeroDivisionError downstream."""
    import pytest

    from lakeapi_spark.operators.stats import permutation_test_means

    one_group = spark.createDataFrame(
        [(i, 10 + i, 1) for i in range(5)], "id long, x long, g int"
    )
    with pytest.raises(ValueError, match="both groups must be non-empty"):
        permutation_test_means(one_group, "id", "x", "g")

    bad_values = spark.createDataFrame(
        [(1, 10, 0), (2, 11, 1), (3, 12, 2), (4, 13, None)],
        "id long, x long, g int",
    )
    with pytest.raises(ValueError, match="must be 0/1"):
        permutation_test_means(bad_values, "id", "x", "g")


def test_k_core_converges_and_raises_on_max_iter(spark):
    """k_core returns the true 2-core when it converges; when
    max_iter exhausts before the peel fixpoint (long chain), it
    raises instead of silently returning a non-k-core subgraph."""
    import pytest

    from lakeapi_spark.operators.graph import k_core

    # triangle 1-2-3 plus a pendant chain 3-4-5-6: 2-core = triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    got = {r.node: r.degree for r in k_core(edges, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    # chain of 8 peels one endpoint-pair per round: max_iter=1 cannot
    # reach the (empty) fixpoint and must fail loudly
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not reach fixpoint"):
        k_core(chain, 2, max_iter=1)


def test_betweenness_bounded_known_graphs(spark):
    """Brandes dependency on shapes with known answers: path (the
    middle carries one unit per endpoint seed), star (the hub carries
    n-1 per leaf seed), depth cap (dependency beyond the horizon is
    not estimated), diamond (two shortest paths split sigma — the
    truncating fixed-point halves exactly), and barbell (the bridge
    endpoints outscore every triangle node — the signature degree and
    PageRank both miss)."""
    from lakeapi_spark.operators.graph import betweenness_bounded

    def bc(edges, seeds, **kw):
        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {r.node: r.bc for r in betweenness_bounded(e, s, **kw).collect()}

    assert bc([(1, 2), (2, 3)], [1, 3]) == {2: 2.0}
    assert bc([(0, 1), (0, 2), (0, 3)], [1, 2, 3]) == {0: 6.0}
    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert bc(chain, [1], max_depth=2) == {2: 1.0}
    assert bc(chain, [1], max_depth=4) == {2: 3.0, 3: 2.0, 4: 1.0}
    # diamond: sigma(4) = 2, each middle carries (1e6 + 0) DIV 2
    assert bc([(1, 2), (1, 3), (2, 4), (3, 4)], [1]) == {2: 0.5, 3: 0.5}
    # barbell: triangles {1,2,3} and {4,5,6} bridged by 3-4; seeds at
    # the far corners — the bridge endpoints carry the inter-community
    # flow and must dominate
    barbell = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    got = bc(barbell, [1, 2, 5, 6], max_depth=4)
    assert got[3] > max(got.get(1, 0.0), got.get(2, 0.0))
    assert got[4] > max(got.get(5, 0.0), got.get(6, 0.0))
    # duplicate edge rows must not double path counts when deduping
    dup = [(1, 2), (1, 2), (2, 3)]
    assert bc(dup, [1, 3]) == {2: 2.0}
    spark.catalog.clearCache()


def test_harmonic_centrality_sampled_known_graphs(spark):
    """Harmonic = sum of 1/d from the seeds: exact fixed-point terms
    on a path, additive across seeds, silent (not infinite) on
    disconnected components, truncated at the depth cap."""
    from lakeapi_spark.operators.graph import harmonic_centrality_sampled

    def hc(edges, seeds, **kw):
        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r.node: (r.hc_fp, r.hc)
            for r in harmonic_centrality_sampled(e, s, **kw).collect()
        }

    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    got = hc(chain, [1])
    assert got == {
        2: (1_000_000, 1.0),
        3: (500_000, 0.5),
        4: (333_333, 0.3333),
        5: (250_000, 0.25),
    }
    # two seeds sum; the far component {8,9} is unreachable and absent
    got2 = hc(chain + [(8, 9)], [1, 5])
    assert got2[3] == (1_000_000, 1.0)  # 0.5 from each end
    assert got2[2] == (1_333_333, 1.3333) and got2[4] == (1_333_333, 1.3333)
    assert 8 not in got2 and 9 not in got2
    # depth cap: node 5 is 4 hops from seed 1 — gone at max_depth=3
    assert 5 not in hc(chain, [1], max_depth=3)
    spark.catalog.clearCache()


def test_weighted_k_core_strength_peel(spark):
    """s-core semantics: the peel is by STRENGTH, not degree — a
    degree-1 node with one heavy edge survives a threshold that peels
    a degree-3 node with light edges; the cascade re-evaluates
    survivors; parallel edges merge additively and nonpositive merged
    weights drop before any strength is computed; max_iter exhaustion
    raises."""
    import pytest

    from lakeapi_spark.operators.graph import weighted_k_core

    # triangle 1-2-3 with heavy edges (w=5 each: strengths 10), node 4
    # hangs off 1 with one w=6 edge (strength 6), node 5 hangs off 2
    # with three... use: 5-2 w=1, 5-3 w=1, 5-1 w=1 (degree 3, strength 3)
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 5), (1, 4, 6), (2, 5, 1), (3, 5, 1), (1, 5, 1)],
        "src long, dst long, w long",
    )
    got = {r.node: (r.strength, r.degree)
           for r in weighted_k_core(edges, s_min=6).collect()}
    # node 5 (strength 3) peels; node 4 (degree 1, strength 6) stays
    assert 5 not in got and got[4] == (6, 1)
    assert got[1] == (16, 3) and got[2] == (10, 2) and got[3] == (10, 2)
    # parallel edges merge: two w=3 edges act as one w=6; a +3/-3 pair
    # nets to 0 and drops entirely (node 7 vanishes from the graph)
    merged = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 3), (1, 7, 3), (1, 7, -3)],
        "src long, dst long, w long",
    )
    gm = {r.node: r.strength for r in weighted_k_core(merged, s_min=6).collect()}
    assert gm == {1: 6, 2: 6}
    # strength-peel chain: each round removes one more node
    chain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(1, 8)], "src long, dst long, w long"
    )
    with pytest.raises(RuntimeError, match="did not reach fixpoint"):
        weighted_k_core(chain, s_min=2, max_iter=1)


def _maintained_index(spark, kind):
    """One maintained index behind a common face: ``row(i)`` makes a table
    row (ids >= 100 near-duplicate doc ``i - 100``), ``build`` /
    ``refresh`` / ``version`` call the index's public functions over
    (doc_id, body), ``serve`` returns what it serves as a set, and
    ``ids`` the doc ids in it."""
    from functools import partial
    from types import SimpleNamespace

    import numpy as np

    from lakeapi_spark.operators import incremental as inc

    if kind == "ivf":
        def row(i):
            return (i, [float(x) for x in np.random.RandomState(i % 100).randn(8)])

        schema = "doc_id long, body array<double>"
        build = partial(
            inc.ivf_index_build_delta, spark,
            id_col="doc_id", vec_col="body", centroid_ids=[0, 1, 2, 3],
        )
        refresh, version = inc.ivf_index_refresh_delta, inc.ivf_index_version
        queries = spark.createDataFrame([row(0), row(1), row(2)], schema)

        def serve(idx):
            out = inc.ivf_index_topk_delta(spark, idx, queries, "doc_id", "body", k=5)
            return {tuple(r) for r in out.collect()}

        def ids(served):
            return {t[1] for t in served}
    else:
        base = " ".join(f"tok{i}" for i in range(30))

        def row(i):
            return (i, f"spark window {base} extra{i % 100}")

        schema = "doc_id long, body string"
        if kind == "lsh":
            build = partial(inc.lsh_index_build, spark, id_col="doc_id", text_col="body")
            refresh, version = inc.lsh_index_refresh, inc.lsh_index_version

            def serve(idx):
                return {tuple(r) for r in inc.lsh_index_pairs(spark, idx).collect()}

            def ids(served):
                return {i for p in served for i in p[:2]}
        else:
            build = partial(
                inc.bm25_index_build_delta, spark, id_col="doc_id", text_col="body"
            )
            refresh, version = inc.bm25_index_refresh_delta, inc.bm25_index_version

            def serve(idx):
                out = inc.bm25_index_scores_delta(spark, idx, "spark window")
                return {tuple(r) for r in out.collect()}

            def ids(served):
                return {t[0] for t in served}

    return SimpleNamespace(
        rows=lambda ids_: spark.createDataFrame([row(i) for i in ids_], schema),
        build=build,
        refresh=lambda tbl, idx: refresh(spark, tbl, idx, "doc_id", "body"),
        version=lambda idx: version(spark, idx),
        serve=serve,
        ids=ids,
    )


@pytest.mark.soak
@pytest.mark.parametrize("kind", ["lsh", "ivf", "bm25"])
def test_index_refresh_pins_read_to_recorded_version(spark, tmp_path, monkeypatch, kind):
    """Race guard: if commits land between the refresh's
    delta_snapshot() probe and its table read, the index must still
    contain exactly the rows of the version it RECORDS. Simulated by
    capping the latest-version probe at v2 while the table is at v4
    (v3 deletes a doc v2 added, v4 appends another): the refreshed
    index must equal a full build at v2 — the deleted doc stays, and
    the v4 row must NOT leak in."""
    import lakeapi_spark.sources.delta as dsrc
    from lakeapi_spark.sources.delta import delete_delta, write_delta

    ix = _maintained_index(spark, kind)
    tbl, idx = str(tmp_path / "docs"), str(tmp_path / "idx")
    write_delta(
        ix.rows(range(10)), tbl, configuration={"delta.enableChangeDataFeed": "true"}
    )
    ix.build(tbl, idx)  # v0
    write_delta(ix.rows([100]), tbl)  # v1: near-duplicate of doc 0
    write_delta(ix.rows([101]), tbl)  # v2: near-duplicate of doc 1
    delete_delta(spark, tbl, "doc_id = 101")  # v3
    write_delta(ix.rows([102]), tbl)  # v4: near-duplicate of doc 2

    real = dsrc.delta_snapshot

    def stale_probe(spark_, uri_, *args, **kwargs):
        if args or kwargs:  # explicit version (delta_changes internals)
            return real(spark_, uri_, *args, **kwargs)
        return real(spark_, uri_, 2)  # latest-probe sees only v2

    monkeypatch.setattr(dsrc, "delta_snapshot", stale_probe)
    assert ix.refresh(tbl, idx) == (2, 2)  # docs 100, 101 — NOT 102
    assert ix.version(idx) == 2
    monkeypatch.undo()

    full = str(tmp_path / "idx_full")
    ix.build(tbl, full, version=2)
    inc, ful = ix.serve(idx), ix.serve(full)
    assert inc == ful and {100, 101} <= ix.ids(inc)
    assert 102 not in ix.ids(inc)  # the raced commits stayed out


@pytest.mark.parametrize("kind", ["lsh", "ivf", "bm25"])
def test_index_refresh_crash_leaves_old_version_live(spark, tmp_path, monkeypatch, kind):
    """A refresh that fails while a relation of the new v{N} is being
    written leaves ``meta`` at the old version: the index keeps serving
    the old result, the refresh's persisted frames are released, and
    the next refresh completes over the partial v{N} it left behind."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from lakeapi_spark.sources.delta import write_delta

    ix = _maintained_index(spark, kind)
    tbl, idx = str(tmp_path / "docs"), str(tmp_path / "idx")
    write_delta(
        ix.rows(range(10)), tbl, configuration={"delta.enableChangeDataFeed": "true"}
    )
    ix.build(tbl, idx)
    before = ix.serve(idx)
    write_delta(ix.rows([100]), tbl)  # v1

    real = DataFrameWriter.parquet
    new_snapshot = os.path.join(idx, "v1")
    written = []

    def crash_on_second_relation(self, path, *args, **kwargs):
        if path.startswith(new_snapshot):
            written.append(path)
            if len(written) == 2:  # a relation half-written, then the crash
                os.makedirs(path, exist_ok=True)
                with open(os.path.join(path, "part-00000-partial.parquet"), "wb") as f:
                    f.write(b"PAR1")
                raise RuntimeError("injected write failure")
        return real(self, path, *args, **kwargs)

    persisted = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    real_persist = frame_cls.persist

    def spy_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_second_relation)
    monkeypatch.setattr(frame_cls, "persist", spy_persist)
    with pytest.raises(RuntimeError, match="injected"):
        ix.refresh(tbl, idx)
    monkeypatch.undo()

    assert len(written) == 2 and ix.version(idx) == 0
    assert ix.serve(idx) == before
    levels = [df.storageLevel for df in persisted]
    assert levels and not any(lv.useMemory or lv.useDisk for lv in levels)

    assert ix.refresh(tbl, idx) == (1, 1)
    full = str(tmp_path / "idx_full")
    ix.build(tbl, full)
    assert ix.serve(idx) == ix.serve(full) and 100 in ix.ids(ix.serve(idx))


def test_lsh_quality_report_sampled_equals_prefiltered(spark):
    """exact_sample_mod=m must equal running the whole report on the
    md5-prefiltered 1/m doc universe — sampling restricts BOTH sides,
    so recall/precision stay comparable (the er_blocking_quality
    evaluation pattern), and the refactored registered query (mod=None)
    keeps its oracle semantics."""
    from lakeapi_spark.operators.dedup import lsh_quality_report
    from lakeapi_spark.operators.text import portable_hash60

    base = " ".join(f"w{i}" for i in range(25))
    rows = [(i, base + f" tail{i // 2}") for i in range(40)]  # near-dup pairs
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sampled = lsh_quality_report(df, "doc_id", "text", exact_sample_mod=2)
    pre = df.filter(portable_hash60(F.col("doc_id").cast("string")) % 2 == 0)
    whole_on_pre = lsh_quality_report(pre, "doc_id", "text")
    r_s, r_p = sampled.collect()[0], whole_on_pre.collect()[0]
    assert tuple(r_s) == tuple(r_p)
    assert 0 < r_s.n_exact  # the sample still contains true pairs
    full = lsh_quality_report(df, "doc_id", "text").collect()[0]
    assert full.n_exact > r_s.n_exact  # sampling genuinely shrank the universe


def test_canary_hits_guards_benchmark_blowup(spark):
    """A canary set past max_canaries must refuse loudly (the
    O(docs x canaries) broadcast-contains plan would otherwise run
    silently quadratic); below the threshold the probe works as
    before."""
    from lakeapi_spark.operators.contamination import canary_hits

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "nothing here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    ok = canary_hits(train, bench, "doc_id", "text").collect()
    assert {(r.id, r.n_canaries_hit) for r in ok} == {(1, 1)}

    big_bench = spark.createDataFrame(
        [(i, f"tok{i} a b c d e") for i in range(30)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="exceeds max_canaries"):
        canary_hits(train, big_bench, "doc_id", "text", max_canaries=10)


def test_link_prediction_hub_degree_cap(spark):
    """Star graph: every wedge goes through the hub, so capping
    max_hub_degree below the hub's degree empties the candidate set;
    uncapped, every leaf pair is predicted (cn=1 via the hub). The
    rare-neighbor wedge must survive the cap."""
    from lakeapi_spark.operators.graph import adamic_adar_topk, common_neighbors_topk

    # hub 100 -> leaves 1..5 (deg(hub)=5), plus a rare path 1-7-2
    # (deg(7)=2): capping at 3 keeps only the wedge through 7
    edges = spark.createDataFrame(
        [(i, 100) for i in range(1, 6)] + [(1, 7), (2, 7)],
        "src long, dst long",
    )
    uncapped = common_neighbors_topk(edges).collect()
    leaf_pairs = {(a, b) for a in range(1, 6) for b in range(a + 1, 6)}
    assert {(r.u, r.v) for r in uncapped} == leaf_pairs | {(7, 100)}
    assert {r.cn for r in uncapped} == {1, 2}  # (1,2) shares hub AND 7

    # cap at 3 excludes the hub (deg 5) as a middle node: the leaf
    # pairs certified only by the hub vanish; (1,2) survives via 7
    # (deg 2) and (7,100) survives via 1 and 2 (deg 2 each)
    capped = common_neighbors_topk(edges, max_hub_degree=3).collect()
    assert [(r.u, r.v, r.cn) for r in capped] == [(7, 100, 2), (1, 2, 1)]

    aa_capped = adamic_adar_topk(edges, max_hub_degree=3).collect()
    assert [(r.u, r.v, r.cn) for r in aa_capped] == [(7, 100, 2), (1, 2, 1)]
    import math

    c_ln2 = round(1e12 / math.log(2.0), 0)  # every surviving middle has deg 2
    assert aa_capped[0].aa == round(2 * c_ln2 / 1e12, 6)
    assert aa_capped[1].aa == round(c_ln2 / 1e12, 6)  # engine-exact fixed-point


def test_link_prediction_matches_bruteforce_random_graphs(spark):
    """Differential check: common_neighbors_topk and adamic_adar_topk
    (capped and uncapped) must match a driver-side brute force on
    seeded random simple graphs — covering rank ties, the anti-join
    against existing edges, and the hub cap's exclusion semantics."""
    import math
    import random

    from lakeapi_spark.operators.graph import adamic_adar_topk, common_neighbors_topk

    def brute(edge_list, cap):
        nbrs = {}
        eset = set()
        for a, b in edge_list:
            u, v = min(a, b), max(a, b)
            if u == v:
                continue
            eset.add((u, v))
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        cn, aa = {}, {}
        for w, ns in nbrs.items():
            if cap is not None and len(ns) > cap:
                continue
            for u in ns:
                for v in ns:
                    if u < v and (u, v) not in eset:
                        cn[(u, v)] = cn.get((u, v), 0) + 1
                        c = round(1e12 / math.log(len(nbrs[w])), 0)
                        aa[(u, v)] = aa.get((u, v), 0) + int(c)
        top_cn = sorted(cn.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        top_aa = sorted(aa.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        return (
            [(u, v, n) for (u, v), n in top_cn],
            [(u, v, cn[(u, v)], round(s / 1e12, 6)) for (u, v), s in top_aa],
        )

    for seed in (3, 17, 52):
        rng = random.Random(seed)
        n = 30
        edge_list = list(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(70)
            }
        )
        df = spark.createDataFrame(edge_list, "src long, dst long")
        for cap in (None, 3):
            want_cn, want_aa = brute(edge_list, cap)
            got_cn = [
                (r.u, r.v, r.cn)
                for r in common_neighbors_topk(df, max_hub_degree=cap).collect()
            ]
            assert got_cn == want_cn, (seed, cap)
            got_aa = [
                (r.u, r.v, r.cn, r.aa)
                for r in adamic_adar_topk(df, max_hub_degree=cap).collect()
            ]
            assert got_aa == want_aa, (seed, cap)


def test_quota_sample_prefilter_exactness_and_guard(spark):
    """The prefilter_keep hash-ceiling dial must reproduce the
    unfiltered cap EXACTLY when enough rows survive per group (the
    winners are the lowest-hash rows, so a hash ceiling is
    rank-correlated), and raise loudly — never silently under-sample —
    when the fraction is cut too thin for some group."""
    from lakeapi_spark.operators.sampling import quota_sample

    rows = [(i, "big" if i < 300 else "small") for i in range(360)]
    df = spark.createDataFrame(rows, ["k", "g"])
    want = sorted((r.k, r.g) for r in quota_sample(df, "k", "g", 10).collect())
    got = sorted(
        (r.k, r.g)
        for r in quota_sample(df, "k", "g", 10, prefilter_keep=(3, 4)).collect()
    )
    assert got == want  # exact same winner set, quarter of the sort dropped

    import pytest as _pytest

    # ceiling so low every row drops: each group retains 0 < min(total,
    # quota) survivors -> the count guard must refuse
    with _pytest.raises(RuntimeError, match="truncated group"):
        quota_sample(df, "k", "g", 10, prefilter_keep=(1, 2**50))
    with _pytest.raises(ValueError):
        quota_sample(df, "k", "g", 10, prefilter_keep=(5, 4))


def test_mad_outliers_approx_dial_matches_exact_here(spark):
    """approx_accuracy switches both medians to the mergeable GK sketch
    and drops the broadcast hints; on data this small the sketch is
    rank-exact AND the group sizes are odd, so both median passes pick
    an element (percentile() interpolates on EVEN counts where
    approx_percentile still picks an element — the documented
    divergence) and the flagged set must match the exact path."""
    from lakeapi_spark.operators.stats import mad_outliers

    rows = [
        (i, g, float(v))
        for g in ("a", "b")
        for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 9, 10, 13, 1000])
    ]
    df = spark.createDataFrame(rows, "id int, grp string, value double")
    exact = sorted((r.id, r.grp) for r in mad_outliers(df, "grp", "value").collect())
    approx = sorted(
        (r.id, r.grp)
        for r in mad_outliers(
            df, "grp", "value", approx_accuracy=10000, min_group_rows=0
        ).collect()
    )
    assert exact == approx == [(10, "a"), (10, "b")]  # the 1000 spike only
    # the exact path broadcasts the group relation; the approx path
    # must NOT pin a broadcast (group counts may exceed the threshold)
    exact_plan = mad_outliers(df, "grp", "value")._jdf.queryExecution().toString()
    approx_plan = (
        mad_outliers(df, "grp", "value", approx_accuracy=10000, min_group_rows=0)
        ._jdf.queryExecution()
        .toString()
    )
    assert "ResolvedHint" in exact_plan or "broadcast" in exact_plan.lower()
    assert "approx_percentile" in approx_plan


def test_mad_outliers_approx_dial_enforces_group_size_floor(spark):
    """VERDICT r10 wrong-item #3: the many-LARGE-groups contract of
    approx_accuracy is enforced — 11-row groups refuse loudly by
    default instead of silently risking the element-vs-interpolation
    MAD flip; min_group_rows=0 opts out; the exact path never checks;
    and the approx medians come back DOUBLE even for integer values
    (ADVICE r10 #4)."""
    import pytest as _pytest

    from lakeapi_spark.operators.stats import mad_outliers

    rows = [
        (i, g, v)
        for g in ("a", "b")
        for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 9, 10, 13, 1000])
    ]
    df = spark.createDataFrame(rows, "id int, grp string, value int")
    with _pytest.raises(ValueError, match="min_group_rows"):
        mad_outliers(df, "grp", "value", approx_accuracy=10000)
    # exact path: no floor, runs fine on tiny integer groups
    assert len(mad_outliers(df, "grp", "value").collect()) == 2
    # opt-out + integer value column: schema must match the exact path
    # (double robust_z from double medians, not an int-typed _mad)
    ex = mad_outliers(df, "grp", "value")
    ap = mad_outliers(df, "grp", "value", approx_accuracy=10000, min_group_rows=0)
    assert [f.dataType.simpleString() for f in ap.schema.fields] == [
        f.dataType.simpleString() for f in ex.schema.fields
    ]
    assert sorted(r.id for r in ap.collect()) == sorted(r.id for r in ex.collect())


@_given(
    sizes=_st.lists(_st.integers(min_value=1, max_value=60), min_size=1, max_size=4),
    quota=_st.integers(min_value=1, max_value=15),
    keep=_st.integers(min_value=1, max_value=8),
    mod=_st.sampled_from([2, 4, 8]),
)
@_settings(max_examples=10, deadline=None, suppress_health_check=list(_HealthCheck))
def test_quota_sample_prefilter_never_silently_differs(spark, sizes, quota, keep, mod):
    """Property: for ANY group sizes / quota / keep fraction, the
    prefiltered cap either returns EXACTLY the unfiltered winner set or
    raises RuntimeError — there is no input where it silently returns a
    different (smaller) sample. This is the whole contract of the
    prefilter_keep dial."""
    from lakeapi_spark.operators.sampling import quota_sample

    keep = min(keep, mod)
    rows = [
        (g * 1000 + i, f"g{g}") for g, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["k", "g"])
    want = sorted((r.k, r.g) for r in quota_sample(df, "k", "g", quota).collect())
    try:
        got = sorted(
            (r.k, r.g)
            for r in quota_sample(
                df, "k", "g", quota, prefilter_keep=(keep, mod)
            ).collect()
        )
    except RuntimeError as exc:
        assert "truncated group" in str(exc)
        return
    assert got == want


def test_psi_drift_reports_degenerate_and_vanished_groups(spark):
    """Completeness contract: every BASELINE group appears exactly once.
    A constant-baseline group (no bin space) and a group with zero
    current rows (vanished — maximal drift) report psi NULL with true
    counts instead of silently disappearing; cur-only groups stay out
    (no baseline to drift from)."""
    from lakeapi_spark.operators.stats import psi_drift

    base = spark.createDataFrame(
        [("const", 5.0)] * 50
        + [("gone", float(i % 10)) for i in range(100)]
        + [("ok", float(i % 10)) for i in range(200)],
        "g string, value double",
    )
    cur = spark.createDataFrame(
        [("const", 9.0)] * 20
        + [("ok", float(i % 10)) for i in range(200)]
        + [("new", 1.0)] * 30,
        "g string, value double",
    )
    out = {r.g: r for r in psi_drift(base, cur, "g", "value").collect()}
    assert set(out) == {"const", "gone", "ok"}  # cur-only "new" excluded
    assert out["const"].psi is None
    assert (out["const"].n_base, out["const"].n_cur) == (50, 20)
    assert out["gone"].psi is None
    assert (out["gone"].n_base, out["gone"].n_cur) == (100, 0)
    assert out["ok"].psi is not None and out["ok"].psi < 0.01
    assert (out["ok"].n_base, out["ok"].n_cur) == (200, 200)


def test_weighted_median_zero_total_weight_is_null_not_min(spark):
    """A group with no positive weight mass has no weighted median:
    before the guard, 2*cum >= tot held vacuously at tot = 0 and the
    group's SMALLEST value came back as a fabricated center. It must
    report NULL (group still visible) while positive-mass groups are
    untouched."""
    from lakeapi_spark.operators.stats import weighted_median

    df = spark.createDataFrame(
        [("dead", 1.0, 0), ("dead", 2.0, 0), ("live", 1.0, 1), ("live", 2.0, 1)],
        "g string, v double, w int",
    )
    out = {r.g: r for r in weighted_median(df, ["g"], "v", "w").collect()}
    assert out["dead"].w_median is None and out["dead"].total_w == 0
    assert out["live"].w_median == 1.0 and out["live"].total_w == 2


def test_ks_two_sample_empty_population_reports_null_stat(spark):
    """KS vs an EMPTY population is undefined: the report must carry
    the true counts with a NULL statistic, not explode with an ANSI
    divide-by-zero from inside the CDF walk."""
    from lakeapi_spark.operators.stats import ks_two_sample

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a")], "v double, s string"
    )
    (row,) = ks_two_sample(df, "v", "s", "a", "b").collect()
    assert (row.n_a, row.n_b, row.ks_stat) == (3, None, None) or (
        row.n_a,
        row.n_b,
        row.ks_stat,
    ) == (3, 0, None)


def test_largest_remainder_zero_weight_group_is_null_not_crash(spark):
    """A group with zero weight mass cannot be prorated: its rows emit
    NULL allocated/bumped (visible, NULL-propagating) instead of an
    ANSI divide-by-zero; positive-mass groups are untouched."""
    from lakeapi_spark.operators.stats import largest_remainder_allocation

    df = spark.createDataFrame(
        [("dead", 0, 10, "a"), ("dead", 0, 10, "b"),
         ("live", 1, 10, "a"), ("live", 3, 10, "b")],
        "grp string, w int, tot int, ord string",
    )
    out = {(r.grp, r.ord): r for r in
           largest_remainder_allocation(df, "grp", "w", "tot", "ord").collect()}
    assert out[("dead", "a")].allocated is None
    assert out[("dead", "b")].allocated is None
    assert out[("live", "a")].allocated + out[("live", "b")].allocated == 10
    assert (out[("live", "a")].allocated, out[("live", "b")].allocated) == (3, 7)


def test_graph_operators_ignore_self_loops(spark):
    """The graph family documents SIMPLE undirected graphs; a
    self-loop in the input must not inflate k_core degrees (letting a
    degree-(k-1) node survive on its own vote), freeze an LPA node
    against the neighbor majority, or shift pagerank mass."""
    from lakeapi_spark.operators.graph import k_core, label_propagation, pagerank

    # triangle a-b-c (each degree 2) + pendant d-a + self-loop d-d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "a"), ("d", "d")],
        "src string, dst string",
    )
    clean = edges.filter("src <> dst")
    core = {r.node: r.degree for r in k_core(edges, k=2).collect()}
    assert set(core) == {"a", "b", "c"}  # d's self-loop must not keep it
    lp_loop = sorted((r.node, r.label) for r in label_propagation(edges, rounds=3).collect())
    lp_clean = sorted((r.node, r.label) for r in label_propagation(clean, rounds=3).collect())
    assert lp_loop == lp_clean
    pr_loop = {r.node: r.pr for r in pagerank(edges).collect()}
    pr_clean = {r.node: r.pr for r in pagerank(clean).collect()}
    assert pr_loop == pr_clean


def test_tokens_regex_trim_no_empty_edge_tokens(spark):
    """tokens() documents 'whitespace tokens of trimmed text (empty ->
    [])' — but Spark/DuckDB trim() strips ONLY ASCII spaces, so a doc
    whose edge whitespace is \\n or \\t split into EMPTY-STRING tokens
    that then polluted vocab/TF/BM25 pipelines. The regex trim must
    yield zero empty tokens for any whitespace dressing."""
    from lakeapi_spark.operators.text import token_count, tokens

    df = spark.createDataFrame(
        [(1, "\n\thello world\t\n"), (2, "\n\t"), (3, "  x  "), (4, "")],
        "id int, text string",
    )
    out = {r.id: (r.n, r.t) for r in df.select(
        "id", token_count(F.col("text")).alias("n"), tokens(F.col("text")).alias("t")
    ).collect()}
    assert out[1] == (2, ["hello", "world"])
    assert out[2] == (0, [])  # was 2 empty-string tokens before the fix
    assert out[3] == (1, ["x"])
    assert out[4] == (0, [])
    # engine twin: the oracle helper spelling must agree on the same input
    import duckdb
    from lakeapi_spark.operators.text import lang_id_oracle_sql  # noqa: F401 (spelling lives there)
    con = duckdb.connect()
    got = con.execute(
        "SELECT string_split_regex(regexp_replace(lower(?),"
        " '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'),"
        " '[ \\t\\n\\x0B\\f\\r]+')",
        ["\n\thello world\t\n"],
    ).fetchone()[0]
    assert got == ["hello", "world"]


def test_whitespace_class_identical_on_vertical_tab(spark):
    """Java regex \\s includes \\x0B (vertical tab); RE2 \\s does not —
    so every tokenization regex is spelled as the explicit class
    ``[ \\t\\n\\x0B\\f\\r]`` on BOTH engines (ADVICE r10 #1). VT-edged
    and VT-separated text must tokenize identically in Spark and
    DuckDB, and the empty->[] guard must hold for VT-only docs."""
    import duckdb

    from lakeapi_spark.operators.text import rolling_fingerprint, tokens

    texts = ["\x0bhello world\x0b", "a\x0bb", "\x0b", "", "  \x0b \t ", "plain text"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    got = {
        r.id: (r.t, r.fp)
        for r in df.select(
            "id",
            tokens(F.col("text")).alias("t"),
            rolling_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    cls = "[ \\t\\n\\x0B\\f\\r]"
    for i, s in enumerate(texts):
        toks = con.execute(
            f"SELECT string_split_regex(regexp_replace(lower(?),"
            f" '^{cls}+|{cls}+$', '', 'g'), '{cls}+')",
            [s],
        ).fetchone()[0]
        if toks == [""]:
            toks = []  # the tokens() empty->[] guard, mirrored in oracle CASEs
        assert got[i][0] == toks, (s, got[i][0], toks)
        fp = con.execute(
            f"""
            SELECT CASE WHEN toks = [''] THEN 0 ELSE
              list_reduce(list_transform(toks,
                t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1000000007),
                (a, b) -> (a * 31 + b) % 1000000007) END
            FROM (SELECT string_split_regex(regexp_replace(lower(?),
                 '^{cls}+|{cls}+$', '', 'g'), '{cls}+') AS toks)
            """,
            [s],
        ).fetchone()[0]
        assert got[i][1] == fp, (s, got[i][1], fp)


def test_bm25_empty_doc_doclen_zero_both_engines(spark):
    """ADVICE r10 #2: bm25 tokenize sites route through tokens(), so an
    empty / whitespace-only doc contributes doclen 0 (not 1) to avgdl —
    and the oracle dl CTEs carry the same ``toks = ['']`` guard."""
    import duckdb

    from lakeapi_spark.operators.search import bm25_search, build_bm25_index

    rows = [(1, "apple banana apple"), (2, ""), (3, "\x0b\t\n"), (4, "banana kiwi")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    idx = build_bm25_index(df, "doc_id", "text")
    try:
        postings = idx.segments[0].postings
        dl = {r["__id"]: r["__dl"] for r in postings.filter("__tok = ''").collect()}
        assert dl == {1: 3, 2: 0, 3: 0, 4: 2}
        n, sum_dl = idx.segments[0].terms.filter("__tok = ''").select("__tf", "__dl").first()
        assert (n, sum_dl, idx.rows) == (4, 5, 4)  # avgdl 1.25
        spark_scores = {
            r.doc_id: r.bm25_score
            for r in bm25_search(df, "doc_id", "text", "banana").collect()
        }
    finally:
        idx.unpersist()
    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT * FROM (VALUES " +
                ",".join(f"({i}, '{t}')" for i, t in
                         [(1, "apple banana apple"), (2, ""), (3, chr(11)), (4, "banana kiwi")]) +
                ") t(doc_id, text)")
    cls = "[ \\t\\n\\x0B\\f\\r]"
    oracle = con.execute(f"""
        WITH base AS (
          SELECT doc_id, string_split_regex(regexp_replace(lower(text),
                 '^{cls}+|{cls}+$', '', 'g'), '{cls}+') AS toks FROM d
        ),
        dl AS (SELECT doc_id, CASE WHEN toks = [''] THEN 0 ELSE len(toks) END AS dl FROM base),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
          WHERE tok IN ('banana') GROUP BY doc_id, tok
        ),
        dfreq AS (SELECT tok, COUNT(*) AS dfr FROM tf GROUP BY tok)
        SELECT t.doc_id,
               ROUND(SUM(LN((s.n - f.dfr + 0.5)/(f.dfr + 0.5) + 1)
                     * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 4) AS score
        FROM tf t JOIN dfreq f USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s
        GROUP BY t.doc_id
    """).fetchall()
    assert {d: s for d, s in oracle} == {
        d: float(s) for d, s in spark_scores.items()
    }


def test_weighted_pagerank_k4_uniform_equals_unweighted(spark):
    """On K4 with equal weights, weighted PageRank == unweighted
    (weight shares reduce to degree shares): all four nodes get 0.25
    at any iteration count."""
    from lakeapi_spark.operators.graph import pagerank, weighted_pagerank

    k4 = [(a, b, 7) for a in range(4) for b in range(4) if a < b]
    ew = spark.createDataFrame(k4, "src long, dst long, weight long")
    got = {r.node: r.pr for r in weighted_pagerank(ew, iters=2).collect()}
    assert got == {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}
    un = {r.node: r.pr for r in pagerank(ew.drop("weight"), iters=2).collect()}
    assert got == un
    spark.catalog.clearCache()


def test_weighted_pagerank_star_heavy_edge_pulls_rank(spark):
    """Star 0-{1,2,3}: with equal weights the leaves tie; making edge
    (0,1) 10x heavier must strictly raise node 1 above nodes 2/3
    (mass splits by weight share), and ranks still sum to ~1."""
    from lakeapi_spark.operators.graph import weighted_pagerank

    even = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 1), (0, 3, 1)], "src long, dst long, weight long"
    )
    ge = {r.node: r.pr for r in weighted_pagerank(even, iters=2).collect()}
    assert ge[1] == ge[2] == ge[3]
    heavy = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (0, 3, 1)], "src long, dst long, weight long"
    )
    gh = {r.node: r.pr for r in weighted_pagerank(heavy, iters=2).collect()}
    assert gh[1] > gh[2] == gh[3]
    assert abs(sum(gh.values()) - 1.0) < 1e-6
    spark.catalog.clearCache()


def test_eigenvector_centrality_k4_and_star(spark):
    """K4: symmetry forces equal scores (0.25 after L1 norm). Star:
    the hub's score must exceed every leaf's, leaves tie; a heavier
    edge breaks the leaf tie toward its endpoint."""
    from lakeapi_spark.operators.graph import eigenvector_centrality

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    got = {r.node: r.score for r in eigenvector_centrality(k4, iters=3).collect()}
    assert got == {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    gs = {r.node: r.score for r in eigenvector_centrality(star, iters=3).collect()}
    assert gs[0] > gs[1] == gs[2] == gs[3]
    heavy = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 1), (0, 3, 1)], "src long, dst long, w long"
    )
    gw = {
        r.node: r.score
        for r in eigenvector_centrality(heavy, weight="w", iters=3).collect()
    }
    assert gw[0] > gw[1] > gw[2] == gw[3]
    spark.catalog.clearCache()


def test_topk_per_group_exact_across_partitions_and_batches(spark):
    """Phase-1 correctness hazards: a group split across partitions
    (both fragments' local top-k must survive to the merge) and a
    group run split across Arrow batches (the carried counter must
    keep ranking, not restart). Compare against the window-rank
    truth on a shape that forces both."""
    import random

    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.pipeline import topk_per_group

    rng = random.Random(7)
    rows = [
        (g, i, float(rng.randrange(1000)))
        for g in range(6)
        for i in range(g * 500, g * 500 + 400)
    ]
    df = spark.createDataFrame(rows, "g int, id long, v double").repartition(8)
    got = sorted(
        (r.g, r.id, r.v, r.rank)
        for r in topk_per_group(df, ["g"], "v", k=5, tiebreak_col="id").collect()
    )
    w = _W.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    want = sorted(
        (r.g, r.id, r.v, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    assert got == want and len(got) == 30
    # ascending variant + NULL order values never win
    rows_n = [(1, 1, None), (1, 2, 5.0), (1, 3, 1.0), (1, 4, 3.0)]
    dfn = spark.createDataFrame(rows_n, "g int, id long, v double")
    asc = topk_per_group(dfn, ["g"], "v", k=2, tiebreak_col="id", descending=False)
    assert [(r.id, r.rank) for r in asc.orderBy("rank").collect()] == [(3, 1), (4, 2)]


def test_topk_per_group_drops_nan_order_values(spark):
    """ADVICE r11 #1: Spark's desc sort puts NaN FIRST (phase 1) but
    array_sort of the negated key puts NaN LAST (phase 2) — NaN rows
    crowding phase-1 slots would silently discard true winners. The
    contract drops NaN like NULL; real winners must all survive."""
    from lakeapi_spark.operators.pipeline import topk_per_group

    nan = float("nan")
    rows = [(1, i, nan) for i in range(10)] + [
        (1, 10, 5.0), (1, 11, 4.0), (1, 12, 3.0)
    ]
    # one partition so phase 1 sees NaN-first crowding if unfiltered
    df = spark.createDataFrame(rows, "g int, id long, v double").coalesce(1)
    got = [
        (r.id, r.v, r.rank)
        for r in topk_per_group(df, ["g"], "v", k=2, tiebreak_col="id")
        .orderBy("rank")
        .collect()
    ]
    assert got == [(10, 5.0, 1), (11, 4.0, 2)]
    # ascending too, and no NaN row ever appears
    asc = topk_per_group(df, ["g"], "v", k=2, tiebreak_col="id", descending=False)
    assert [(r.id, r.rank) for r in asc.orderBy("rank").collect()] == [
        (12, 1), (11, 2)
    ]


def test_eigenvector_centrality_drops_nonpositive_merged_weights(spark):
    """ADVICE r11 #2: parallel edges merge additively; a pair whose
    weights sum to <= 0 must be dropped (like weighted_pagerank), not
    allowed to zero/negate the L1 normalizer. Star 0-{1,2,3} where
    edge (0,3) nets to 0: node 3 becomes isolated and disappears,
    remaining scores stay a valid distribution."""
    from lakeapi_spark.operators.graph import eigenvector_centrality

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 2), (0, 3, 3), (0, 3, -3)],
        "src long, dst long, w long",
    )
    got = {r.node: r.score for r in
           eigenvector_centrality(edges, weight="w", iters=3).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0] > got[1] == got[2]
    assert abs(sum(got.values()) - 1.0) < 1e-6
    spark.catalog.clearCache()


def test_mad_outliers_group_floor_counts_non_null_values(spark):
    """ADVICE r11 #3: the min_group_rows floor must count NON-NULL
    values (percentile ignores NULLs) — a big group that is mostly
    NULL has a tiny effective sample and must refuse."""
    import pytest as _pytest

    from lakeapi_spark.operators.stats import mad_outliers

    rows = [(i, "g", 10.0 if i < 5 else None) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, grp string, value double")
    with _pytest.raises(ValueError, match="min_group_rows"):
        mad_outliers(df, "grp", "value", approx_accuracy=10000,
                     min_group_rows=20).collect()
    # 5 non-null values pass a floor of 5
    mad_outliers(df, "grp", "value", approx_accuracy=10000,
                 min_group_rows=5).collect()


def test_mann_whitney_and_chi2_degenerate_contracts(spark):
    """Degenerate shapes NULL instead of IEEE infinity: an empty side
    or an all-tied value pool has no U sampling distribution; a
    single-category margin leaves Cramér's V undefined (dof 0)."""
    from lakeapi_spark.operators.stats import (
        chi_square_independence,
        mann_whitney_u,
    )

    # group_b empty
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a")], "v double, g string"
    )
    r = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert r.n_b == 0 and r.z is None
    # all values tied across both groups -> sigma 0
    tied = spark.createDataFrame(
        [(5.0, "a"), (5.0, "a"), (5.0, "b"), (5.0, "b")], "v double, g string"
    )
    r2 = mann_whitney_u(tied, "v", "g", "a", "b").collect()[0]
    assert r2.z is None and r2.n_a == 2 and r2.n_b == 2
    # healthy case still produces a number
    ok = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (9.0, "b"), (10.0, "b")], "v double, g string"
    )
    assert mann_whitney_u(ok, "v", "g", "a", "b").collect()[0].z is not None

    one_cat = spark.createDataFrame(
        [("x", 1), ("x", 2), ("x", 1)], "a string, b int"
    )
    c = chi_square_independence(one_cat, "a", "b").collect()[0]
    assert c.dof == 0 and c.cramers_v is None and c.chi2 == 0.0


def test_holt_winters_learns_weekly_seasonality(spark):
    """On a strictly 7-periodic integer series the HW one-step errors
    must shrink after the first season (the zero-init seasonals learn
    in place), and the final seasonal vector must rank the slots like
    the data does; a trend-only Holt keeps paying the amplitude."""
    from lakeapi_spark.operators.windows import holt_winters_backtest

    base = [100, 200, 300, 400, 500, 600, 700]
    rows = [("s", i, base[i % 7] * 1_000_000) for i in range(28)]
    df = spark.createDataFrame(rows, "k string, o int, x long")
    r = holt_winters_backtest(df, "k", "o", "x", 300, 100, 300).collect()[0]
    assert r.n_events == 28
    s = [r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6]
    # slot order: step t uses slot (t-1)%7; x at position i has value
    # base[i%7] and lands in slot i%7 — the learned seasonal profile
    # must be monotone like base over the slots the data visited
    learned = [s[j] for j in range(1, 7)]
    assert learned == sorted(learned) and learned[0] < learned[-1]
    # two keys with different series stay independent under the carry
    two = spark.createDataFrame(
        rows + [("t", i, (700 - base[i % 7]) * 1_000_000) for i in range(28)],
        "k string, o int, x long",
    ).repartition(1)
    got = {x.k: x.sae for x in holt_winters_backtest(two, "k", "o", "x").collect()}
    assert got["s"] == r.sae and len(got) == 2


def test_pca_top_component_known_axis(spark):
    """Power iteration recovers a planted dominant direction: points
    spread along (1, 2, 0, 0) (plus a tiny orthogonal wiggle) must
    yield L1-normalized loadings ~(1/3, 2/3, 0, 0) with matching
    signs; constant vectors (zero covariance) yield NULL loadings
    instead of a division error."""
    from lakeapi_spark.operators.similarity import pca_top_component

    rows = [
        (i, [float(t), 2.0 * t, 0.001 * (i % 2), 0.0])
        for i, t in enumerate([x / 10.0 for x in range(-5, 6)])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.dim: r.loading for r in pca_top_component(df, "vec_id", "embedding").collect()}
    assert abs(abs(got[1]) - 1 / 3) < 0.01 and abs(abs(got[2]) - 2 / 3) < 0.01
    assert got[1] * got[2] > 0  # same sign: the axis is (1, 2), not (1, -2)
    assert abs(got[3]) < 0.01 and abs(got[4]) < 0.01
    const = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    degen = pca_top_component(const, "vec_id", "embedding").collect()
    assert all(r.loading_fp is None for r in degen)
    spark.catalog.clearCache()


def test_power_direction_keeps_null_covariance(spark):
    """A NULL covariance entry reaches the local iterate as None
    (which skips it, as SQL SUM does) instead of crashing int(): the
    result equals the relational rounds'."""
    from lakeapi_spark.operators.similarity import _power_direction, _power_iterate_cov

    cov = spark.createDataFrame(
        [(1, 1, 4000), (1, 2, None), (2, 1, 1000), (2, 2, 2000)], "j int, k int, c long"
    )
    got = sorted(tuple(r) for r in _power_direction(cov, 5, 1000).collect())
    want = sorted(tuple(r) for r in _power_iterate_cov(cov, 5, 1000).collect())
    assert got == want and len(got) == 2


def test_croston_intermittent_demand(spark):
    """Croston on a strictly periodic intermittent series (demand 6
    every 3rd day): the states converge to exactly z = demand size,
    p = 3000 milli-periods, demand rate 2/day — and a plain SES over
    the same gap-filled series backtests WORSE (it decays toward zero
    between demands and under-forecasts every spike), which is the
    whole reason Croston exists. Replays the integer contract in
    Python as the truth; keys stay independent under the batch carry."""
    from lakeapi_spark.operators.windows import croston_backtest

    rows = [
        ("s", t, 6_000_000 if t % 3 == 0 else 0) for t in range(1, 31)
    ]
    df = spark.createDataFrame(rows, "k string, o int, x long")
    r = croston_backtest(df, "k", "o", "x", alpha_num=100).collect()[0]
    assert (r.n_periods, r.n_demand) == (30, 10)
    assert r.z == 6_000_000 and r.p == 3000  # exact fixed point
    # reference replay of the documented contract
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    z = p = None
    q = sae = 0
    for (_k, _t, x) in rows:
        if z is not None:
            sae += abs(x - tdiv(z * 1000, p))
        q += 1
        if x > 0:
            z, p = (x, q * 1000) if z is None else (
                tdiv(100 * x + 900 * z, 1000),
                tdiv(100 * q * 1000 + 900 * p, 1000),
            )
            q = 0
    assert r.sae == sae
    # SES over the same series pays more: its one-step forecast chases
    # the zeros down and the spikes up
    ses_l, ses_sae = None, 0
    for (_k, _t, x) in rows:
        if ses_l is not None:
            ses_sae += abs(x - ses_l)
            ses_l = tdiv(100 * x + 900 * ses_l, 1000)
        else:
            ses_l = x
    assert r.sae < ses_sae
    # two keys under one partition: the carry keeps them independent
    two = spark.createDataFrame(
        rows + [("t", t, 9_000_000 if t == 15 else 0) for t in range(1, 31)],
        "k string, o int, x long",
    ).repartition(1)
    got = {x.k: (x.n_demand, x.z, x.p, x.sae)
           for x in croston_backtest(two, "k", "o", "x").collect()}
    assert got["s"] == (10, r.z, r.p, r.sae)
    # single demand at t=15: z = 9e6, p = 15000, sae accrues only after
    assert got["t"][0] == 1 and got["t"][1] == 9_000_000 and got["t"][2] == 15000


def test_holt_winters_multiplicative_learns_ratio_seasonality(spark):
    """Multiplicative HW on a GROWING series whose weekday bump scales
    with the level (x = level_t * factor[dow]): the learned seasonal
    ratios (millionths) must rank like the true factors and bracket
    1e6 (peak > 1.0 > trough), and on this proportional-seasonality
    shape the multiplicative one-step SAE must beat the additive
    model's, which keeps paying the growing amplitude."""
    from lakeapi_spark.operators.windows import (
        holt_winters_backtest,
        holt_winters_multiplicative_backtest,
    )

    factor = [0.5, 0.8, 1.0, 1.2, 1.5, 1.0, 1.0]
    rows = [
        ("s", i, int((1000 + 25 * i) * factor[i % 7] * 1_000_000))
        for i in range(56)
    ]
    df = spark.createDataFrame(rows, "k string, o int, x long")
    m = holt_winters_multiplicative_backtest(df, "k", "o", "x").collect()[0]
    assert m.n_events == 56
    s = [m.s0, m.s1, m.s2, m.s3, m.s4, m.s5, m.s6]
    # x at position i lands in slot i%7 (step t uses slot (t-1)%7)
    assert s[4] > s[3] > s[2] > s[1] > s[0]  # ranks like factor
    assert s[4] > 1_000_000 > s[0]  # ratios bracket 1.0
    a = holt_winters_backtest(df, "k", "o", "x").collect()[0]
    assert m.sae < a.sae
    # independent keys under the batch-boundary carry
    two = spark.createDataFrame(
        rows + [("t", i, 5_000_000) for i in range(56)],
        "k string, o int, x long",
    ).repartition(1)
    got = {
        x.k: x.sae
        for x in holt_winters_multiplicative_backtest(two, "k", "o", "x").collect()
    }
    assert got["s"] == m.sae and len(got) == 2
    # a constant positive series is a fixed point: identity seasonals,
    # zero trend, level == x
    ct = [
        x
        for x in holt_winters_multiplicative_backtest(two, "k", "o", "x").collect()
        if x.k == "t"
    ][0]
    assert ct.level == 5_000_000 and ct.trend == 0 and ct.sae == 0
    assert ct.s0 == ct.s6 == 1_000_000


# ---------------------------------------------------------------------------
# Banded NTILE (r13: the scale path for the NTILE family, VERDICT r12 #1a)
# ---------------------------------------------------------------------------


def test_ntile_banded_equals_window_ntile(spark):
    """ntile_banded must equal NTILE(t) OVER (ORDER BY v [DESC], id)
    row for row — heavy ties, ascending and descending, n < tiles,
    constant column."""
    import random

    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.windows import ntile_banded

    rng = random.Random(13)
    cases = [
        (997, 10, False),
        (1000, 5, True),
        (37, 5, False),
        (3, 5, False),  # n < tiles: trailing empty tiles, duplicate end ranks
        (500, 7, True),
    ]
    for nrows, tiles, desc in cases:
        rows = [(i, float(rng.randrange(40))) for i in range(nrows)]
        df = spark.createDataFrame(rows, "id long, v double").repartition(6)
        order = [F.col("v").desc(), F.col("id")] if desc else [F.col("v"), F.col("id")]
        want = {
            r.id: r.t
            for r in df.withColumn(
                "t", F.ntile(tiles).over(_W.orderBy(*order))
            ).collect()
        }
        got = {
            r.id: r.tile
            for r in ntile_banded(df, "v", "id", tiles, descending=desc).collect()
        }
        assert got == want, (nrows, tiles, desc)
    # constant value column: tiles split purely by key
    cdf = spark.createDataFrame([(i, 7) for i in range(50)], "id long, v long")
    want = {
        r.id: r.t
        for r in cdf.withColumn("t", F.ntile(5).over(_W.orderBy("v", "id"))).collect()
    }
    got = {r.id: r.tile for r in ntile_banded(cdf, "v", "id", 5).collect()}
    assert got == want


def test_ntile_boundaries_ranks_and_tuples(spark):
    """Boundary tuples are exactly the rows at the NTILE tile-end
    ranks of the requested total order."""
    from lakeapi_spark.operators.windows import ntile_boundaries

    rows = [(i, (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, v long")
    truth = sorted(rows, key=lambda r: (r[1], r[0]))
    bnds = ntile_boundaries(df, "v", "id", 4)
    assert [r for r, *_ in bnds] == [25, 50, 75]
    for rank, _s, k, v in bnds:
        assert (k, v) == (truth[rank - 1][0], truth[rank - 1][1])


def test_abtt_correction_kills_planted_direction(spark):
    """Plant a dominant common direction on top of small noise: the
    before_ratio must be near 1, and after the all-but-the-top
    subtraction the residual top-PC share must collapse toward the
    isotropic floor."""
    import random

    from lakeapi_spark.operators.similarity import abtt_corrected_anisotropy

    rng = random.Random(7)
    d = 8
    u = [1.0 if j < 2 else 0.0 for j in range(d)]  # planted direction
    rows = []
    for i in range(200):
        a = rng.uniform(-1.0, 1.0)  # dominant coefficient
        vec = [a * u[j] + rng.uniform(-0.05, 0.05) for j in range(d)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    row = abtt_corrected_anisotropy(df, "vec_id", "embedding", iters=5).first()
    assert row.n_vecs == 200
    assert row.before_ratio > 0.8, row
    assert row.after_ratio < 0.5 * row.before_ratio, row
    assert 0 < row.after_ss < row.total_ss


def test_weighted_harmonic_k4_and_barbell(spark):
    """Dijkstra-by-rounds ground truth: K4 (uniform cost) matches the
    unweighted answer; a barbell with a cost-3 bridge walks the longer
    distances exactly, including the empty intermediate levels."""
    from lakeapi_spark.operators.graph import weighted_harmonic_sampled

    # K4, cost 1 everywhere, seed 0: every other node at distance 1
    k4 = spark.createDataFrame(
        [(a, b, 1) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long, c long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.hc_fp
        for r in weighted_harmonic_sampled(k4, seeds, max_dist=6).collect()
    }
    assert got == {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}

    # barbell: triangle 0-1-2, triangle 3-4-5, bridge 2-3 at cost 3
    edges = [(0, 1, 1), (0, 2, 1), (1, 2, 1), (3, 4, 1), (3, 5, 1), (4, 5, 1), (2, 3, 3)]
    bb = spark.createDataFrame(edges, "src long, dst long, c long")
    got = {
        r.node: r.hc_fp
        for r in weighted_harmonic_sampled(bb, seeds, max_dist=6).collect()
    }
    # dists from 0: 1->1, 2->1, 3->4 (1+3, levels 2..3 empty), 4/5->5
    assert got == {
        1: 1_000_000,
        2: 1_000_000,
        3: 250_000,
        4: 200_000,
        5: 200_000,
    }

    # two seeds accumulate: from 0 AND 5
    seeds2 = spark.createDataFrame([(0,), (5,)], "node long")
    got = {
        r.node: r.hc_fp
        for r in weighted_harmonic_sampled(bb, seeds2, max_dist=6).collect()
    }
    # from 5: 3->1, 4->1, 2->4, 1->5, 0->5
    assert got == {
        0: 200_000,
        1: 1_000_000 + 200_000,
        2: 1_000_000 + 250_000,
        3: 250_000 + 1_000_000,
        4: 200_000 + 1_000_000,
        5: 200_000,
    }


def test_weighted_harmonic_cost1_equals_unweighted(spark):
    """All-cost-1 Dijkstra must reproduce the unweighted harmonic
    walk on a random sparse graph."""
    import random

    from lakeapi_spark.operators.graph import (
        harmonic_centrality_sampled,
        weighted_harmonic_sampled,
    )

    rng = random.Random(29)
    pairs = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(60)})
    e1 = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs], "src long, dst long, c long"
    )
    seeds = spark.createDataFrame([(0,), (7,), (13,)], "node long")
    got = {
        r.node: r.hc_fp
        for r in weighted_harmonic_sampled(e1, seeds, max_dist=4).collect()
    }
    want = {
        r.node: r.hc_fp
        for r in harmonic_centrality_sampled(
            e1.select("src", "dst"), seeds, max_depth=4
        ).collect()
    }
    assert got == want and len(got) > 5


def test_markov_removal_effects_two_channel_closed_form(spark):
    """Hand-replayed absorbing chain: START->a (2/5), START->b (3/5),
    a->conv (1/2), b->conv (2/3). Every expected integer below is the
    closed-form truncating-division result."""
    from lakeapi_spark.operators.graph import absorbing_removal_effects

    trans = spark.createDataFrame(
        [
            ("START", "a", 2),
            ("START", "b", 3),
            ("a", "conv", 1),
            ("a", "drop", 1),
            ("b", "conv", 2),
            ("b", "drop", 1),
        ],
        "f string, t string, cnt long",
    )
    rows = {
        r.channel: r
        for r in absorbing_removal_effects(trans, ["a", "b"], iters=12).collect()
    }
    # p_all: x(a)=500000, x(b)=2000000//3=666666,
    # x(START)=(400000*500000 + 600000*666666)//1e6 = 599999
    assert rows["a"].p_conv_all == 599999
    assert rows["b"].p_conv_all == 599999
    # removing a leaves START->b only: 600000*666666//1e6 = 399999
    assert rows["a"].p_conv_removed == 399999
    # removing b leaves START->a only: 400000*500000//1e6 = 200000
    assert rows["b"].p_conv_removed == 200000
    # re_fp: (599999-399999)*1e6//599999 = 333333;
    #        (599999-200000)*1e6//599999 = 666666
    assert rows["a"].removal_effect == 0.333333
    assert rows["b"].removal_effect == 0.666666
    # shares normalize over sum 999999
    assert rows["a"].attr_share == 0.333333
    assert rows["b"].attr_share == 0.666667


def test_bench_best_replacement_is_width_gated():
    """BENCH_BEST replacement predicate (r13): only a FULL-width run
    may own the companion; a reduced-width capture (the driver's
    scaling-curve runs) must never replace it, a width-stale or
    fingerprint-stale companion is replaced, and among same-width
    settled runs the lower total wins."""
    from bench import should_replace_best

    art = {"cpus": 32, "queries": {"a": 1.0}, "value": 10.0,
           "code_fingerprint": "f1"}
    prev = {"cpus": 32, "queries": {"a": 1.2}, "value": 9.0,
            "code_fingerprint": "f1", "host_contended": False}
    assert should_replace_best(None, art, 32)  # missing companion
    assert not should_replace_best(prev, art, 32)  # slower candidate
    assert should_replace_best(prev, dict(art, value=8.0), 32)
    # reduced-width candidate never owns the companion
    assert not should_replace_best(prev, dict(art, cpus=8), 32)
    # width-stale / fingerprint-stale / contended companions replaced
    assert should_replace_best(dict(prev, cpus=8), art, 32)
    assert should_replace_best(dict(prev, code_fingerprint="f0"), art, 32)
    assert should_replace_best(dict(prev, host_contended=True), art, 32)
    # query-set drift is stale
    assert should_replace_best(dict(prev, queries={"b": 1.0}), art, 32)


def test_lit_array_matches_flit_formulation(spark):
    """lit_array builds a K-element literal array as ONE parsed expr
    (guide §5 — py4j per-op driver cost); it must be value- AND
    type-identical to the F.array(*[F.lit(v) ...]) formulation it
    replaces, for every supported kind."""
    from pyspark.sql import functions as F

    from lakeapi_spark.operators.scale import lit_array

    cases = [
        ([3, -7, 0, 2**62, -(2**62)], "long"),
        ([0.1, -1e-9, 3.5, 1.7976931348623157e308, 5e-324], "double"),
        (["a'b", "c\\d", "e f", ""], "string"),
    ]
    for vals, kind in cases:
        old = spark.range(1).select(F.array(*[F.lit(v) for v in vals]).alias("a"))
        new = spark.range(1).select(lit_array(vals, kind).alias("a"))
        assert old.schema == new.schema, kind
        assert old.first()[0] == new.first()[0], kind
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lit_array([], "long")
    with _pytest.raises(ValueError):
        lit_array([float("nan")], "double")


def test_fan_out_by_repartitions_even_when_wide(spark):
    """ADVICE r13: with ``by`` set, fan_out must deliver
    HashPartitioning on the keys even when the input is already at
    target width — downstream co-partitioned joins rely on it."""
    from lakeapi_spark.operators.scale import fan_out, plan_partitions

    wide = spark.range(1000).repartition(64)  # wider than any target
    out = fan_out(wide, min_partitions=8, by=["id"])
    assert plan_partitions(out) == 64  # width never shrinks
    # the logical plan must carry the hash repartition on the key (the
    # physical partitioning reads Unknown pre-execution under AQE)
    assert "repartitionbyexpression [id" in out._jdf.queryExecution().optimizedPlan().toString().lower()
    # without by: unchanged passthrough
    assert fan_out(wide, min_partitions=8) is wide
