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

    A document is an id: its length and term counts sum over the id's
    rows, while N counts rows, as the index (``bm25_postings``) has it.

    Plan shape at scale:
    - doc lengths: ``size(tokens)`` summed per id — one shuffle on id;
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
    stats = base.agg(F.count(F.lit(1)).alias("__n"), F.sum(F.size("__toks")).alias("__sdl"))
    stats = stats.select("__n", (F.col("__sdl") / F.col("__n")).alias("__avgdl"))
    doclen = base.groupBy("__id").agg(F.sum(F.size("__toks")).alias("__dl"))
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
# The reference rebuilds a DuckDB FTS index whenever the table's modified
# date changes (df_duckdb.py:321-379). Here one cached relation holds the
# tokenized table: ``postings`` (__id, __tok, __tf, __dl), each row with
# its document's length, plus per id a row under the token '' (never a
# real token) whose __tf counts the id's rows, so an empty document still
# counts in N; ``terms`` sums it per token, its '' row N and sum(dl). A
# search collects its terms' rows and '' (one job), ships idf and avgdl in
# a map literal and sums per id over the term-filtered postings with no
# exchange: three Spark jobs with the top-k. A delta table's index follows
# commits as its last full build (the base) plus one tail of the files
# added since, while every file the base read is live and unchanged.

from dataclasses import dataclass

#: a tail of more rows than this fraction of the base's makes the refresh
#: a full build, so the tail stays small next to what it extends
TAIL_FRACTION = 0.25


@dataclass
class Bm25Segment:
    """One tokenized set of rows: cached postings and the terms of them."""

    postings: DataFrame  # (__id, __tok, __tf, __dl)
    terms: DataFrame  # (__tok, __df, __tf, __dl)

    def unpersist(self) -> None:
        for d in (self.postings, self.terms):
            try:
                d.unpersist()
            except Exception:  # noqa: BLE001 - already-unpersisted is fine
                pass


@dataclass
class Bm25Index:
    """A full build, or a full build and the tail of rows added since, with
    no id in both. ``rows`` and ``size``: the full build's row count and
    input size estimate; ``files``: the delta file identities it read,
    None where it cannot follow commits."""

    segments: tuple[Bm25Segment, ...]
    rows: int = 0
    size: int = 0
    files: dict | None = None

    def unpersist(self) -> None:
        for s in self.segments:
            s.unpersist()


def bm25_postings(docs: DataFrame) -> DataFrame:
    """(__id, __tok, __tf, __dl) of (__id, __text) rows; ``__dl`` is the
    id's token count over all its rows (a per-id window: no exchange on
    input clustered by __id)."""
    from pyspark.sql.window import Window

    toks = docs.select("__id", tokens(F.col("__text")).alias("__toks"))
    return (
        toks.withColumn("__dl", F.sum(F.size("__toks")).over(Window.partitionBy("__id")))
        .select("__id", "__dl", F.explode(F.array_append("__toks", F.lit(""))).alias("__tok"))
        .groupBy("__id", "__tok", "__dl")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .select("__id", "__tok", "__tf", "__dl")
    )


def bm25_terms(postings: DataFrame) -> DataFrame:
    """(__tok, __df, __tf, __dl): per token its document frequency, and
    sums whose '' row is N and sum(dl)."""
    return postings.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__df"), F.sum("__tf").alias("__tf"), F.sum("__dl").alias("__dl")
    )


def _segment(postings: DataFrame) -> Bm25Segment:
    postings = postings.persist()
    return Bm25Segment(postings, bm25_terms(postings).persist())


def _rows(df: DataFrame, id_col: str, text: str | Column) -> DataFrame:
    text = F.col(text) if isinstance(text, str) else text
    return df.select(F.col(id_col).alias("__id"), text.alias("__text"))


def build_bm25_index(df: DataFrame, id_col: str, text_col: str | Column) -> Bm25Index:
    """Full build over ``id_col`` and ``text_col`` (a column name, or a
    Column over ``df``), filled by one action. ``fan_out(by=['__id'])`` is
    its one row exchange, of the raw (id, text) rows: HashPartitioning(__id)
    carries the per-id window, the (id, token) aggregate and every search's
    per-id sum with no further exchange, and spreads the tokenize over the
    cores even when the scan is one file."""
    from lakeapi_spark.operators.scale import BM25_TASK_BYTES, fan_out, size_estimate

    src = _rows(df, id_col, text_col)
    rows = fan_out(src, per_partition_bytes=BM25_TASK_BYTES, by=["__id"])
    seg = _segment(bm25_postings(rows))
    n = seg.terms.filter(F.col("__tok") == "").select("__tf").collect()  # collect: every partition
    return Bm25Index((seg,), int(n[0][0]) if n else 0, size_estimate(src))


def _extend(index: Bm25Index, added: DataFrame, added_rows: int) -> Bm25Index | None:
    """``index``'s full build and a tail of the ``added`` (__id, __text)
    rows, whose ids the caller proved new; None past TAIL_FRACTION of the
    base's rows or past one task's share of its full build (size estimate),
    where the full build, spread over the cores, is the faster. The tail is
    one partition, so a commit costs no exchange and no action of its own.
    Not named ``build_*``: a refresh is not a full build."""
    from lakeapi_spark.operators.scale import BM25_TASK_BYTES, size_estimate

    task = max(BM25_TASK_BYTES, index.size / added.sparkSession.sparkContext.defaultParallelism)
    if added_rows > TAIL_FRACTION * index.rows or size_estimate(added) > task:
        return None
    tail = _segment(bm25_postings(added.coalesce(1)))
    return Bm25Index((index.segments[0], tail), index.rows, index.size, index.files)


def bm25_scores(
    index: Bm25Index,
    search_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    score_col: str = "bm25_score",
) -> DataFrame:
    """(__id, score) for every doc matching >= 1 term: the scores of
    ``bm25_search`` (same formula, same stats), from the index. One job
    collects each segment's rows for the terms and for ''; df, N and
    sum(dl) add over segments, whose ids are disjoint. idf and avgdl ship
    in a map literal, a referenced object in the generated code, so a new
    term set or table version compiles nothing. Each segment sums per id,
    with no exchange, over its postings of the terms (an IN filter, which
    parquet postings prune row groups by). The scores are hinted for a
    broadcast when sum(df) rows, their bound, fit the session's threshold."""
    terms = sorted({t.lower() for t in search_terms(search_text)})
    lookup = functools.reduce(DataFrame.union, [s.terms for s in index.segments])
    dfs: dict[str, int] = {}
    n_docs = sum_dl = 0
    for tok, df, tf, dl in lookup.filter(F.col("__tok").isin(["", *terms])).collect():
        if tok:
            dfs[tok] = dfs.get(tok, 0) + df
        else:
            n_docs, sum_dl = n_docs + tf, sum_dl + dl
    avgdl = sum_dl / max(n_docs, 1)
    # [idf, avgdl] per term as map values: referenced objects, not code
    w = F.create_map(*[
        x for t in sorted(dfs)
        for x in (F.lit(t), F.array(F.lit(math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1)), F.lit(avgdl)))
    ]).cast("map<string,array<double>>")[F.col("__tok")]
    denom = F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / w[1])
    contrib = w[0] * F.col("__tf") * (k1 + 1) / denom
    scores = functools.reduce(DataFrame.union, [
        s.postings.filter(F.col("__tok").isin(sorted(dfs)))
        .groupBy("__id").agg(F.round(F.sum(contrib), 4).alias(score_col))
        for s in index.segments
    ])
    limit = scores.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    small = sum(dfs.values()) * (8 + scores._jdf.schema().defaultSize()) <= limit
    return F.broadcast(scores) if small else scores


#: (identity, version, build columns) -> index; version comes from the
#: table's data version, mirroring the reference's cache key.
_BM25_CACHE: dict[tuple, Bm25Index] = {}


def _release(identity, old: Bm25Index) -> None:
    """Unpersist the segments of a stale index that no live index of the
    same table shares (a refreshed index keeps its base)."""
    from lakeapi_spark.artifacts import entries

    live = [s for idx in entries(_BM25_CACHE, identity).values() for s in idx.segments]
    for seg in old.segments:
        if not any(seg is s for s in live):
            seg.unpersist()


def bm25_index_for(
    df: DataFrame, id_col: str, text_col: str | Column, key: tuple, delta: tuple | None = None
) -> Bm25Index:
    """Memoized ``build_bm25_index(df, id_col, text_col)``: ``key =
    (identity, version)`` plus the build columns (artifacts.versioned_artifact:
    one build per key under concurrent misses; a new version releases the
    stale entry). ``delta`` = (uri, snapshot) when ``df`` reads every live
    file of that delta snapshot: a miss then extends an earlier full build
    of the same columns by a tail of the files added since, where
    ``sources.delta.files_since`` proves them new rows of new ids.

    Revive-on-access (r13): an external ``spark.catalog.clearCache()``
    drops the cached relations while the memo keeps handing them out;
    re-marking them persistent (postings before the terms derived from
    them) restores single materialization at the next query."""
    from lakeapi_spark.artifacts import entries, versioned_artifact

    identity, version = key
    params = (id_col, str(text_col))

    def build() -> Bm25Index:
        if delta is None:
            return build_bm25_index(df, id_col, text_col)
        from lakeapi_spark.sources.delta import _file_identities, files_since

        prev = next((i for (_, _, p), i in entries(_BM25_CACHE, identity).items()
                     if p == params and i.files is not None), None)
        added = prev and files_since(df.sparkSession, *delta, prev.files, id_col)
        idx = added and _extend(prev, _rows(added[0], id_col, text_col), added[1])
        if not idx:
            idx = build_bm25_index(df, id_col, text_col)
            idx.files = _file_identities(delta[1])
        return idx

    idx = versioned_artifact(
        _BM25_CACHE, identity, version, params, build, lambda old: _release(identity, old)
    )
    for seg in idx.segments:
        for rel in (seg.postings, seg.terms):
            if not rel.storageLevel.useMemory:
                rel.persist()
    return idx


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

    Scale shape: stage 1 is the indexed BM25 (term-filtered postings
    summed per id, no exchange); the candidate cut and max-bm25
    normalization are windows over the MATCHING set only — at web scale you'd swap in a block-max WAND
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
