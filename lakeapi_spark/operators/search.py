"""Full-text search scorer (§2.10).

The reference has two paths:
- DuckDB: persisted FTS index + BM25 ``match_bm25`` (df_duckdb.py:321-379)
- portable (polars & others): per-space-separated-term
  ``CASE WHEN concat(cols) LIKE '%term%' THEN 1 ELSE 0 END`` summed,
  ``NULLIF(sum, 0)``, rows with NULL score dropped, ordered score desc
  (df_base.py:354-377; contract tests tests/test_search.py:11-35:
  descending scores + each hit matches >= 1 term).

Parity target is the portable scorer (SURVEY §2.10). We add a TF-IDF
style scorer as the scale extension: tokenize -> explode -> join against
a broadcast term list -> aggregate, which is how you'd score 100 TB of
documents without a LIKE scan per term.

Minimum search length is 3 chars (ref core/config.py:76).
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeapi_spark.operators.text import tokens

MIN_SEARCH_LENGTH = 3


class SearchTooShortError(ValueError):
    pass


def search_terms(text: str) -> list[str]:
    """The space-separated terms of ``text``; SearchTooShortError when the
    text is under MIN_SEARCH_LENGTH chars or holds no term (all spaces)."""
    if len(text) < MIN_SEARCH_LENGTH:
        raise SearchTooShortError(f"search text must be >= {MIN_SEARCH_LENGTH} chars")
    terms = [t for t in text.split(" ") if t]
    if not terms:
        raise SearchTooShortError("search text holds no term")
    return terms


def search_score_expr(columns: list[str], search_text: str) -> Column:
    """Portable scorer: NULLIF(sum_of_term_hits, 0) over lower(concat(cols)).

    Mirrors df_base.py:354-377 including the lower() on both sides and
    space-tokenization of the search text.
    """
    haystack = F.lower(F.concat_ws(" ", *[F.col(c) for c in columns]))
    hits = [
        F.when(haystack.like(f"%{term.lower()}%"), F.lit(1)).otherwise(F.lit(0))
        for term in search_terms(search_text)
    ]
    return F.nullif(functools.reduce(operator.add, hits), F.lit(0))


def search(
    df: DataFrame, columns: list[str], search_text: str, score_col: str = "search_score"
) -> DataFrame:
    """WHERE score IS NOT NULL ORDER BY score DESC (endpoint_search.py:56-59)."""
    return (
        df.withColumn(score_col, search_score_expr(columns, search_text))
        .filter(F.col(score_col).isNotNull())
        .orderBy(F.col(score_col).desc())
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    search_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "bm25_score",
) -> DataFrame:
    """BM25 ranking as a pure relational pipeline (the Spark answer to
    the reference's persisted DuckDB FTS index, df_duckdb.py:321-379 —
    no side database, no index file; the "index" is a set of small
    aggregates Catalyst computes and broadcasts).

    score(D,Q) = sum_t  ln((N - df_t + 0.5)/(df_t + 0.5) + 1)
                        * tf_tD * (k1+1) / (tf_tD + k1*(1 - b + b*|D|/avgdl))

    Plan shape at scale:
    - doc lengths: per-row ``size(tokens)`` — codegen, no shuffle;
    - corpus stats (N, avgdl): one scalar aggregate, broadcast back;
    - tf: tokens filtered to the (tiny) query term set BEFORE the
      explode aggregate — map-side partial agg, one shuffle on doc id;
    - df_t: per-term doc counts derived from tf — rows = |terms|,
      broadcast join;
    - final: one groupBy(doc) sum.
    Everything is SQL-expressible, so DuckDB can verify the exact
    scores (round 4).
    """
    terms = sorted({t.lower() for t in search_terms(search_text)})
    toks_arr = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"), toks_arr.alias("__toks"))
    doclen = base.select("__id", F.size("__toks").alias("__dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    tf = (
        base.select("__id", F.explode("__toks").alias("__tok"))
        .filter(F.col("__tok").isin(terms))
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log((F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1)
    denom = F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
    contrib = idf * F.col("__tf") * (k1 + 1) / denom
    scores = (
        tf.join(F.broadcast(dfreq), "__tok")
        .join(doclen, "__id")
        .crossJoin(F.broadcast(stats))
        .groupBy("__id")
        .agg(F.round(F.sum(contrib), 4).alias(score_col))
    )
    return (
        df.join(scores, df[id_col] == scores["__id"])
        .drop("__id")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
    )


def tf_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    search_text: str,
    score_col: str = "search_score",
) -> DataFrame:
    """Scale-path scorer: term-frequency sum over tokenized text.

    tokenize -> explode -> semi-join the (tiny, broadcast) term set ->
    count per doc. One shuffle (the groupBy on id), no per-term LIKE
    scans; at 100 TB the explode+filter runs map-side and the aggregate
    is partial (map-side combine) before the shuffle.
    """
    terms = [t.lower() for t in search_terms(search_text)]
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+")).alias("__tok"),
    ).filter(F.col("__tok").isin(terms))
    scores = tok.groupBy(id_col).agg(F.count("*").alias(score_col))
    return (
        df.join(scores, on=id_col, how="inner")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
    )


# ---------------------------------------------------------------------------
# Persisted BM25 index (the reference's FTS index, Spark-shaped)
# ---------------------------------------------------------------------------
#
# The reference persists a DuckDB FTS index next to the data and rebuilds
# it only when the table's modified date changes (df_duckdb.py:321-379);
# queries hit the index, never a full corpus scan. The ad-hoc
# ``bm25_search`` above re-aggregates the corpus (doc lengths, term DFs,
# N/avgdl) on EVERY query — 6 shuffles, which at 100 TB means re-reading
# the corpus per search request. The index below is the Spark analogue:
#
# - ``postings``  (__tok, __id, __tf): the inverted index. Built once per
#   table version; co-partitioned by __id with ``doclen`` so the
#   query-time join needs no exchange.
# - ``doclen``    (__id, __dl) and ``term_df`` (__tok, __df): the
#   vocabulary-sized statistics relations.
# - ``n_docs`` / ``avgdl``: scalars, collected once at build time.
#
# Query time: filter postings/term_df to the (tiny) query term set,
# broadcast the term stats, one co-partitioned join + one aggregate.


from dataclasses import dataclass


@dataclass
class Bm25Index:
    postings: DataFrame  # (__tok, __id, __tf)
    doclen: DataFrame  # (__id, __dl)
    term_df: DataFrame  # (__tok, __df)
    n_docs: int
    avgdl: float
    #: True for session-memoized builds whose relations share the
    #: postings lineage: query time then derives doclen as
    #: sum(__tf) per doc (value-identical for every doc that can match
    #: a term), so one corpus materialization serves the whole query
    #: even after an external clearCache dropped the cache. False for
    #: parquet-backed indexes (incremental/loaded), where the stored
    #: doclen is a cheap doc-sized read and re-deriving it would scan
    #: the full postings file past the term-pruned row groups.
    doclen_from_postings: bool = False

    def unpersist(self) -> None:
        for d in (self.postings, self.doclen, self.term_df):
            try:
                d.unpersist()
            except Exception:  # noqa: BLE001 - already-unpersisted is fine
                pass


def build_bm25_index(df: DataFrame, id_col: str, text_col: str) -> Bm25Index:
    """One corpus pass -> cached postings + stats relations.

    The ``fan_out(by=['__id'])`` hash exchange gives postings and doclen
    the same HashPartitioning(__id) — unconditionally, since fan_out
    hash-repartitions whenever ``by`` is set (ADVICE r13) — so the
    per-query join satisfies EnsureRequirements with no new exchange.
    The build cost is paid once per table version instead of per query.
    ``fan_out`` before the tokenize (guide §2.5): a narrow single-file
    corpus scan would otherwise tokenize every document in one task —
    and under the serving session's clearCache hygiene that lineage
    re-runs, so the build stage must be parallel each time, not just
    the first."""
    from lakeapi_spark.operators.scale import BM25_TASK_BYTES, fan_out

    toks_arr = tokens(F.col("__text"))
    # ONE exchange for the whole build, of the RAW (id, text) rows —
    # the smallest relation in the pipeline (r13, guide §2.4): the
    # fan-out hashes on __id, and HashPartitioning(__id) satisfies
    # both doclen's clustering and the (__id, __tok) grouping (subset
    # rule), so tokenize, explode and the tf aggregate all run in that
    # one id-partitioned stage and the exploded token stream never
    # reaches the wire. The old plan round-robined the text, then paid
    # a second exchange of the exploded tokens into the aggregate.
    base = fan_out(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        per_partition_bytes=BM25_TASK_BYTES,
        by=["__id"],
    ).select("__id", toks_arr.alias("__toks"))
    doclen = base.select("__id", F.size("__toks").alias("__dl")).persist()
    postings = (
        base.select("__id", F.explode("__toks").alias("__tok"))
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .persist()
    )
    term_df = postings.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df")).persist()
    n_docs, avgdl = doclen.agg(F.count(F.lit(1)), F.avg("__dl")).first()
    return Bm25Index(
        postings, doclen, term_df, int(n_docs), float(avgdl),
        doclen_from_postings=True,
    )


def bm25_scores(
    index: Bm25Index,
    search_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "bm25_score",
) -> DataFrame:
    """(__id, score) for every doc matching >= 1 term — identical scores
    to ``bm25_search`` (same formula, same stats), but computed from the
    index. r13: the per-term DF is the filtered postings grouped by
    term (filter on the group key commutes with the aggregate, so it
    equals ``term_df`` filtered — and never touches the term_df
    relation), and for session-memoized indexes
    (``doclen_from_postings``) the document length is ``sum(__tf)`` per
    doc — equal to the stored ``__dl`` for every doc that can match a
    term (docs with zero postings never reach the join). Touching one
    relation instead of three matters when an external ``clearCache``
    has dropped the index materialization (session hygiene between
    bench queries does exactly that): each referenced relation re-runs
    its full corpus lineage independently, so the old three-relation
    plan paid THREE tokenize passes per query and this one pays one.
    Parquet-backed indexes keep reading their doc-sized stored doclen.
    Wide ops: the co-partitioned doclen join + the final per-doc sum,
    as before."""
    terms = sorted({t.lower() for t in search_terms(search_text)})
    post = index.postings.filter(F.col("__tok").isin(terms))
    dfreq = post.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    if index.doclen_from_postings:
        doclen = index.postings.groupBy("__id").agg(F.sum("__tf").alias("__dl"))
    else:
        doclen = index.doclen
    idf = F.log((F.lit(index.n_docs) - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1)
    denom = F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.lit(index.avgdl))
    contrib = idf * F.col("__tf") * (k1 + 1) / denom
    return (
        post.join(F.broadcast(dfreq), "__tok")
        .join(doclen, "__id")
        .groupBy("__id")
        .agg(F.round(F.sum(contrib), 4).alias(score_col))
    )


def bm25_search_indexed(
    df: DataFrame,
    index: Bm25Index,
    id_col: str,
    search_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "bm25_score",
) -> DataFrame:
    """Drop-in for ``bm25_search`` given a prebuilt index: full rows +
    score, ordered score desc."""
    scores = bm25_scores(index, search_text, k1, b, score_col)
    return (
        df.join(scores, df[id_col] == scores["__id"])
        .drop("__id")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
    )


#: (identity, version) -> index; version comes from the table's modified
#: date (sources.fs.latest_modification), mirroring the reference's cache
#: key. Stale versions of the same identity are evicted on rebuild.
_BM25_CACHE: dict[tuple, Bm25Index] = {}


def bm25_index_for(
    df: DataFrame, id_col: str, text_col: str, key: tuple
) -> Bm25Index:
    """Memoized index: ``key = (identity, version)`` plus the build
    columns. A new version of the same identity evicts + unpersists the
    stale entry (shared artifacts.versioned_artifact contract).

    Revive-on-access (r13): an external ``spark.catalog.clearCache()``
    (the bench/serving session hygiene between queries) silently drops
    the index's materialization while the memo keeps handing out the
    same DataFrames — every downstream branch then re-runs the full
    corpus lineage. Re-marking the dropped relations persistent costs
    nothing when they are still cached and restores single-
    materialization semantics when they are not (the rebuild itself
    still runs inside whichever query touches the index first — nothing
    is precomputed outside it)."""
    from lakeapi_spark.artifacts import versioned_artifact

    identity, version = key
    idx = versioned_artifact(
        _BM25_CACHE,
        identity,
        version,
        (id_col, text_col),
        lambda: build_bm25_index(df, id_col, text_col),
        lambda idx: idx.unpersist(),
    )
    for rel in (idx.postings, idx.doclen, idx.term_df):
        if not rel.storageLevel.useMemory:
            rel.persist()
    return idx


def save_bm25_index(index: Bm25Index, path: str) -> None:
    """Persist the index as parquet — the 100 TB deployment shape, where
    the index outlives the session like the reference's FTS file.
    Postings are range-partitioned + sorted by term so a query's
    ``__tok IN (...)`` filter prunes row groups via min/max stats."""
    (
        index.postings.repartitionByRange(F.col("__tok"))
        .sortWithinPartitions("__tok")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    index.doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    index.term_df.write.mode("overwrite").parquet(f"{path}/term_df")
    spark = index.doclen.sparkSession
    spark.createDataFrame(
        [(index.n_docs, index.avgdl)], "n_docs long, avgdl double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def load_bm25_index(spark, path: str) -> Bm25Index:
    stats = spark.read.parquet(f"{path}/stats").first()
    return Bm25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen"),
        term_df=spark.read.parquet(f"{path}/term_df"),
        n_docs=int(stats.n_docs),
        avgdl=float(stats.avgdl),
    )


def hybrid_search(
    index: "Bm25Index",
    emb: DataFrame,
    vec_id_col: str,
    vec_col: str,
    search_text: str,
    query_vec: list[float],
    n_candidates: int = 50,
    k: int = 20,
    alpha: float = 0.5,
) -> DataFrame:
    """Hybrid lexical + dense retrieval — the standard two-stage RAG
    stack: BM25 recalls ``n_candidates`` docs cheaply from the inverted
    index, then a dense cosine against ``query_vec`` reranks just those
    candidates; final score = alpha * bm25/max_bm25 + (1-alpha) * cos,
    top ``k`` returned as (id, bm25_score, cos_sim, hybrid_score, rank).

    Scale shape: stage 1 is the indexed BM25 (postings pruned to the
    query terms, broadcast stats, co-partitioned doclen join); the
    candidate cut and max-bm25 normalization are windows over the
    MATCHING set only — at web scale you'd swap in a block-max WAND
    top-N, but the interface (small candidate relation out) is the
    same. Stage 2 touches ``n_candidates`` embedding rows via one
    LEFT equi-join on the id — never a corpus-wide vector scan; the
    query vector ships as a literal. A candidate with NO embedding row
    (lazily-backfilled vector stores are normal) is NOT dropped: it
    keeps its lexical score with ``cos_sim`` null and a dense
    contribution of 0 — silently losing the best lexical hit because
    its vector hasn't landed yet would be a wrong ranking, not a
    degraded one. All scores round to 4 so a SQL oracle re-derives the
    exact ranking."""
    from pyspark.sql.window import Window

    from lakeapi_spark.operators.pipeline import ranked_topk
    from lakeapi_spark.operators.scale import lit_array
    from lakeapi_spark.operators.similarity import cosine_parts, dot, norm

    s = 0.0  # sequential sum, bit-matching the oracle's fold (see seeded_centroids)
    for x in query_vec:
        s += float(x) * float(x)
    qnorm = math.sqrt(s)
    # one parsed literal (scale.lit_array): a 64-dim vector as F.lit
    # calls costs ~65 py4j round-trips of pure driver time (guide §5)
    qlit = lit_array([float(x) for x in query_vec], "double")

    scores = bm25_scores(index, search_text)
    # candidate cut via TakeOrderedAndProject — the match set is
    # doc-linear, so a rank-then-filter window over it would be the
    # single-partition sort this module avoids everywhere else; the
    # __mx / final-rank windows below run over n_candidates rows only
    cand = ranked_topk(
        scores,
        [F.col("bm25_score").desc(), F.col("__id")],
        k=n_candidates,
        rank_col="__r",
    ).withColumn("__mx", F.max("bm25_score").over(Window.partitionBy()))
    e = emb.select(
        F.col(vec_id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
    )
    cos = F.round(
        cosine_parts(dot(F.col("__v"), qlit), F.col("__n"), F.lit(qnorm)), 4
    )
    hybrid = F.round(
        F.lit(alpha) * F.col("bm25_score") / F.col("__mx")
        + F.lit(1 - alpha) * F.coalesce("cos_sim", F.lit(0.0)),
        4,
    )
    w_final = Window.orderBy(F.col("hybrid_score").desc(), F.col("__id"))
    return (
        cand.join(e, "__id", "left")
        .withColumn("cos_sim", F.when(F.col("__v").isNotNull(), cos))
        .withColumn("hybrid_score", hybrid)
        .withColumn("rank", F.row_number().over(w_final).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("__id").alias("id"), "bm25_score", "cos_sim", "hybrid_score", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    rank_col: str = "rank",
    c: int = 60,
    scale: int = 1_000_000_000_000,
    digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists — the
    training-free hybrid-retrieval combiner (Cormack et al.): a doc's
    fused score is sum over the lists it appears in of 1/(c + rank).
    Unlike score interpolation (hybrid_search's 0.5/0.5 blend) RRF
    needs no score normalization, so it composes rankings whose score
    scales are incomparable (BM25 logs vs cosine).

    Each contribution is computed as ``scale div (c + rank)`` —
    integer division on exact int64 — so the fused ordering is a sort
    on an INTEGER sum: engine-deterministic with no float accumulation
    anywhere. Ties break by id. Scale shape: the inputs are already
    top-k candidate lists (bounded), so the union + groupBy moves
    k*N rows; the final rank is a window over the fused candidate
    set, never the corpus. Returns (id, n_lists, rrf_score, rank)."""
    from pyspark.sql.window import Window

    parts = [
        r.select(
            F.col(id_col).alias("id"),
            F.expr(f"{scale} div ({c} + {rank_col})").alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("id").agg(
        F.sum("_c").alias("_s"), F.count(F.lit(1)).alias("n_lists")
    )
    w = Window.orderBy(F.col("_s").desc(), F.col("id"))
    return fused.select(
        "id",
        "n_lists",
        (F.round(F.col("_s").cast("double") / scale, digits) + 0.0).alias(
            "rrf_score"
        ),
        F.row_number().over(w).cast("long").alias("rank"),
    )
