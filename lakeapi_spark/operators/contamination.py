"""Benchmark-contamination detection (training-data pipeline extension).

Before training on a crawled corpus you must measure how much of each
document is verbatim-overlapping with your evaluation benchmarks —
otherwise eval scores measure memorization. The standard check is word
n-gram overlap: a training doc is contaminated when a meaningful
fraction of its distinct n-grams also occur anywhere in the benchmark
suite. (The reference engine has no such operator — this extends the
corpus-curation family in operators/dedup.py; tokenization is shared
with operators/text.tokens so the Spark and DuckDB spellings agree.)

Scale design (the asymmetry is the whole trick):
- the BENCHMARK side is small by construction (eval suites are at most
  ~1e6 documents), so its distinct-gram set is collected into a
  broadcast hash join build side — the 100 TB training side streams
  through map-side with NO shuffle for the membership probe;
- gram sets are `array_distinct` per doc BEFORE exploding, so the
  explode volume is bounded by distinct grams, and a doc repeating one
  benchmark phrase a thousand times still counts it once (overlap is a
  set measure, matching how decontamination is specified);
- both sides pass through :func:`~lakeapi_spark.operators.scale.fan_out`
  before the CPU-heavy tokenize/gram stage: a narrow input (one small
  parquet file, a coalesced shuffle) is spread across cores first, while
  an already-parallel 100 TB scan passes through with no added exchange
  (measured 1.5 s -> 1.1 s at sf0.1, where documents is a single
  row group Spark cannot split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeapi_spark.operators.scale import TEXT_TASK_BYTES, fan_out
from lakeapi_spark.operators.text import tokens


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, g): one row per DISTINCT word n-gram per doc (set
    semantics; sampling.dsir_importance builds its own occurrence-kept
    twin of this stage because it also carries the target flag). The
    token array is materialized in its OWN projection with the when()
    double-reference CollapseProject blocker (same hazard + fix as
    text.repetition_metrics / dedup.minhash_signature): without it
    Catalyst inlines trim/lower/split into every element_at of the gram
    lambda — n re-splits per gram per doc, 27x slower at sf0.1."""
    t = tokens(F.col(text_col))
    staged = df.select(F.col(id_col).alias("id"), F.when(F.size(t) >= 0, t).alias("t"))
    grams = F.when(F.size("t") < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - n + 1),
            lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
        )
    )
    return staged.select("id", F.explode(F.array_distinct(grams)).alias("g"))


def benchmark_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-training-doc benchmark overlap: (id, n_grams, n_hit,
    overlap_frac) where overlap_frac = |doc grams ∩ benchmark grams| /
    |doc grams| as an exact integer-ratio double (identical IEEE result
    in any engine — no rounding step to disagree on). Docs with fewer
    than ``n`` tokens have no grams and are dropped (nothing to
    measure, matching the set-based definition).

    Shape note (an alternative that LOST): probing a driver-collected
    frozenset of benchmark grams inside an Arrow kernel over per-doc
    gram arrays deletes the explode + join + groupBy(id) exchange, but
    ships ~n x the corpus text through Arrow as Python strings —
    measured 6.8 s vs 0.69 s for this join shape at sf0.1, and the
    same n x transfer tax holds at 100 TB, so the all-JVM broadcast
    membership join stays."""
    # no fan_out on the build side: the benchmark is small by
    # construction, so the parallelize-before-CPU-heavy-stage trade
    # that pays on the corpus side buys little here and costs a full
    # round-robin exchange of the benchmark text (measured at sf0.1:
    # 1.40 s -> 1.10 s for the whole query, interleaved min-of-5)
    bench_grams = (
        _doc_grams(benchmark, id_col, text_col, n)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    doc_grams = _doc_grams(
        fan_out(train, per_partition_bytes=TEXT_TASK_BYTES), id_col, text_col, n
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "g", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "id",
            "n_grams",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_grams")).alias("overlap_frac"),
        )
    )


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    digits: int = 4,
) -> DataFrame:
    """Per-doc corpus novelty: the fraction of a document's DISTINCT
    word n-grams that appear in no other document — the inverse of the
    near-dup signal, used to up-weight genuinely novel text in
    curation mixes. Returns (id, n_grams, n_novel, novelty); docs with
    fewer than ``n`` tokens produce no grams and drop out.

    Shape: the staged (id, g) gram relation (:func:`_doc_grams`,
    set-per-doc) gets each gram's document frequency from a window
    count partitioned by the gram — one exchange on g, partial-count
    semantics, skew bounded because a gram's partition holds at most
    one row per document — then folds back to one row per doc (second
    exchange, on id). No joins, no driver state, nothing
    corpus-squared."""
    from pyspark.sql.window import Window

    g = _doc_grams(df, id_col, text_col, n)
    per = g.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("g")))
    out = per.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_novel",
        (
            F.round(F.col("n_novel") / F.col("n_grams").cast("double"), digits) + 0.0
        ).alias("novelty"),
    )


def canary_hits(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    prefix_tokens: int = 5,
    max_canaries: int = 100_000,
) -> DataFrame:
    """Exact-substring decontamination — the complement of the n-gram
    overlap measure: each benchmark doc contributes one CANARY string
    (its first ``prefix_tokens`` tokens, space-joined — the canonical
    'answer string' shape), and a training doc is flagged when any
    canary occurs VERBATIM inside its whitespace-normalized lowercased
    text (runs of whitespace collapse to single spaces, matching how
    the canary itself was token-joined — a copy whose tokens are
    newline- or tab-separated still hits). n-gram overlap tolerates
    paraphrase; this catches the copy-paste leak a single contains()
    proves. Returns (id, n_canaries_hit) for flagged docs.

    Scale: the canary set is benchmark-sized (small by construction)
    and broadcast; the training side streams through the containment
    probe map-side — the only exchange is the per-doc hit count's
    groupBy(id), whose input is at most |hits| rows. The O(docs x
    canaries) substring scans are the documented cost of exactness,
    GUARDED: the canary set is counted up front (benchmark-sized, one
    cheap aggregate) and a set larger than ``max_canaries`` (default
    1e5, where per-doc contains() scans stop being free) raises
    ValueError instead of silently planning an O(docs x canaries)
    probe — segment the benchmark into <=max_canaries chunks and union
    the hit counts, or swap in an Aho-Corasick Arrow kernel."""
    t = tokens(F.col(text_col))
    canaries = (
        benchmark.select(F.when(F.size(t) >= 0, t).alias("_t"))
        .filter(F.size("_t") >= prefix_tokens)
        .select(F.array_join(F.slice("_t", 1, prefix_tokens), " ").alias("canary"))
        .distinct()
    )
    n_canaries = canaries.count()
    if n_canaries > max_canaries:
        raise ValueError(
            f"canary_hits: {n_canaries} canaries exceeds max_canaries="
            f"{max_canaries}; the broadcast-contains probe would go "
            f"O(docs x canaries). Segment the benchmark into chunks of "
            f"<= {max_canaries} and union the per-chunk hit counts, or "
            f"use an Aho-Corasick kernel for this canary volume."
        )
    docs = train.select(
        F.col(id_col).alias("id"),
        # probe side gets the SAME normalization the canary tokens got
        # (lowercase + whitespace runs -> single space), else a verbatim
        # copy separated by newlines/tabs is silently missed
        F.regexp_replace(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+", " ").alias("_lt"),
    )
    return (
        docs.join(F.broadcast(canaries), F.contains(F.col("_lt"), F.col("canary")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_canaries_hit"))
    )
