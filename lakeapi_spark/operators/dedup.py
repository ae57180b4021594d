"""Deduplication operators for training-data pipelines (greenfield
extension; no reference equivalent — BASELINE.json north star).

Five escalating strategies, all shaped for 100 TB:

- exact:          hash-groupBy on normalized content. One shuffle,
                  map-side partial agg. The keeper is min(id) per group
                  (deterministic, unlike dropDuplicates).
- ngram_jaccard:  exact set-similarity via shingle self-join. Exact but
                  O(sum_g freq(g)^2) — the deterministic md5 shingle
                  sampler bounds the blow-up; use for candidate *verify*.
- minhash_lsh:    MinHash signatures (k universal-hash permutations over
                  a portable 60-bit shingle hash) banded into LSH
                  buckets; candidate pairs only within buckets ->
                  near-linear scale path.
- simhash:        60-bit simhash of token hashes; near-dups = equal
                  fingerprint (or small hamming distance within buckets).
- embedding:      cosine-threshold pairs over the embeddings table
                  (see similarity.py for the ANN path).

Everything below is built-in functions only (codegen-friendly). The
LSH/simhash internals hash through :func:`portable_hash60` (md5-hex
fold) plus pure int64 arithmetic, so a SQL oracle re-derives every
signature bit-for-bit (see queries.py); recall additionally stays
property-tested vs the exact operators.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeapi_spark.operators.scale import (
    MINHASH_TASK_BYTES,
    TEXT_TASK_BYTES,
    fan_out,
)
from lakeapi_spark.operators.text import portable_hash60, tokens

#: Mersenne prime 2^31-1: minhash permutation values stay < 2^31 and
#: (h % P) * a products stay < 2^62 — inside int64 under ANSI arithmetic
#: in BOTH Spark and the DuckDB oracle.
MINHASH_P = 2_147_483_647

#: Multiplier for the polynomial band-key fold: acc stays < P < 2^31 and
#: acc * BAND_A < 2^51 — safely inside int64 in both engines. Band-key
#: collisions across distinct band tuples only ADD false candidates
#: (removed by the exact-Jaccard verify), never lose true ones: equal
#: tuples always fold to equal keys.
BAND_A = 1_000_003


def minhash_perm_constants(num_hashes: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """Seeded (a, b) literals for perm_i(h) = ((h % P) * a_i + b_i) % P.
    Derived with stdlib ``random.Random`` so the SQL oracle builder
    regenerates the identical constants at registration time."""
    rng = random.Random(seed)
    a = [rng.randrange(1, MINHASH_P) for _ in range(num_hashes)]
    b = [rng.randrange(0, MINHASH_P) for _ in range(num_hashes)]
    return a, b


def normalized(text: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.lower(text), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+", " "
    )


def exact_dedup_keepers(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: (fingerprint, keeper_id, n_dups).
    Deterministic keeper = min(id)."""
    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def doc_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    task_bytes: int = TEXT_TASK_BYTES,
    partition_by_id: bool = False,
) -> DataFrame:
    """(id, sh: array<string>) — the DISTINCT word-bigram set per doc,
    kept as a per-row array (no explode, no shuffle). Docs with fewer
    than two tokens are dropped here (they have no bigrams; explode
    formulations drop them implicitly anyway).

    The token array is materialized as a projected column BEFORE the
    bigram lambda runs: inlining ``tokens(text)`` into the transform
    would re-evaluate the regex split on every element_at access
    (O(tokens^2) per document — measured 20x slower at sf0.1).
    ``fan_out`` spreads narrow single-file scans across cores first:
    this stage is pure CPU and byte-sized task splits starve it.

    The <2-token drop is expressed as a CHEAP predicate on the raw text
    (``[^ \\t\\n\\x0B\\f\\r][ \\t\\n\\x0B\\f\\r]+[^ \\t\\n\\x0B\\f\\r]`` ⟺ ≥2 whitespace tokens) placed BEFORE the fan_out
    exchange on purpose: a post-shingle ``size(sh) > 0`` filter gets
    predicate-pushed through the round-robin exchange by Catalyst, which
    re-evaluates the whole tokenize→bigram pipeline per row on the
    narrow (often single-partition) scan side — measured 8.5s vs 0.7s
    for the signature stage at sf0.1. Never filter on a derived heavy
    column downstream of fan_out.

    ``task_bytes`` sizes the fan-out per downstream compute weight:
    stages that pay much more than tokenize per source byte (the
    128-permutation minhash kernel) pass a smaller budget
    (scale.MINHASH_TASK_BYTES) so small inputs still spread.

    ``partition_by_id`` switches the fan-out exchange to HASH
    partitioning on the doc id (same spread — ids are near-unique) so
    a persisted shingle relation carries ``HashPartitioning(id)`` into
    later id-keyed joins: minhash's two verify joins then reuse it and
    the corpus-sized shingle ARRAYS are never shuffled again
    (guide §2.3/§2.4)."""
    toks = fan_out(
        df.filter(F.col(text_col).rlike(r"[^ \t\n\x0B\f\r][ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]")).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_txt")
        ),
        per_partition_bytes=task_bytes,
        by=["id"] if partition_by_id else None,
    ).select("id", tokens(F.col("_txt")).alias("t"))
    bigrams = F.when(F.size("t") < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.element_at("t", i + 1), F.element_at("t", i + 2)),
        )
    )
    return toks.select("id", F.array_distinct(bigrams).alias("sh"))


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, sample_nibble: str | None
) -> DataFrame:
    """(id, g: long) rows — the doc's distinct shingles, hashed to
    64-bit AFTER the optional sampling filter. ``sample_nibble`` keeps
    only shingles whose md5 starts with that hex char — a deterministic
    1/16 sampler identical across engines (estimated Jaccard over the
    sampled shingle universe; the estimate itself is what the oracle
    verifies). Downstream joins/aggregations run on fixed-width longs;
    set semantics are identical to the string formulation up to 64-bit
    collisions inside one document (~|sh|^2/2^64)."""
    out = doc_shingles(df, id_col, text_col).select("id", F.explode("sh").alias("g"))
    if sample_nibble is not None:
        out = out.filter(F.md5(F.col("g")).startswith(sample_nibble))
    return out.select("id", F.xxhash64("g").alias("g"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    sample_nibble: str | None = None,
    cache_handles: list | None = None,
) -> DataFrame:
    """Exact (or deterministically-sampled) word-bigram Jaccard pairs with
    jaccard >= threshold, id_a < id_b.

    Plan shape: explode (no shuffle), self-join on the 64-bit shingle
    hash (1 shuffle), pair-count aggregate (1 shuffle) joined against
    per-doc shingle counts (broadcastable at any realistic doc count
    since it's one row per doc). The shingle relation feeds three plan
    branches — persist it instead of recomputing the explode.

    The intersection join emits one row per shared shingle — 36M rows
    at sf0.1 (hot bigrams shared by ~300 docs each contribute ~45k
    pairs apiece). Aggregating that volume on a PACKED single-long
    pair key (id_a << 32 | id_b) instead of a two-column key measured
    5x faster (halved shuffle width + single-word hash compare). Ids
    outside the 31-bit packing budget (negative, or a >2B-document
    corpus — exactly the 100 TB regime) fall back AUTOMATICALLY to the
    two-column pair key: same results, the packed key is purely the
    fast path. The probe is one min/max aggregate over the persisted
    shingle relation.

    Pass ``cache_handles`` (a list) to receive the persisted shingle
    DataFrame and ``unpersist()`` it after your action; see
    :func:`minhash_lsh_pairs` for why serving sessions must."""
    sh = _exploded_shingles(df, id_col, text_col, sample_nibble).persist()
    if cache_handles is not None:
        cache_handles.append(sh)
    inter, sizes = _pair_intersections(sh)
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_intersections(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared intersection-count core for the exact set-overlap family
    (Jaccard / containment): from a persisted (id, g) element relation,
    return (inter: (id_a, id_b, n_inter) with id_a < id_b, sizes:
    (id, n)). One equi-join shuffle on the element hash + one pair-keyed
    aggregate — packed single-long pair key when ids fit the 31-bit
    budget, automatic two-column fallback otherwise (see
    :func:`ngram_jaccard_pairs` for the measured rationale)."""
    bounds = sh.agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.sum(F.col("id").isNull().cast("int")).alias("n_null"),
    ).first()
    if (bounds["n_null"] or 0) > 0:
        # min/max ignore nulls and the pair join would silently drop
        # null-id rows — keep the old guard's fail-loudly contract.
        # (The count is SHINGLE rows, not docs; a null-id doc with no
        # shingles contributes nothing to any pair and passes through —
        # semantically a no-op either way.)
        raise ValueError(
            f"corpus contains null ids ({bounds['n_null']} null-id "
            "shingle rows); pair semantics are undefined for null ids"
        )
    packable = (
        bounds["lo"] is not None
        and bounds["lo"] >= 0
        and bounds["hi"] < (1 << 31)
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    )
    if packable:
        pair = F.col("a.id") * F.lit(1 << 32) + F.col("b.id")
        inter = (
            joined.select(pair.alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                F.shiftright("pair", 32).alias("id_a"),
                F.col("pair").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
                "n_inter",
            )
        )
    else:
        inter = (
            joined.select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return inter, sizes


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    cache_handles: list | None = None,
) -> DataFrame:
    """Asymmetric set-containment near-dup pairs: containment =
    |A ∩ B| / min(|A|, |B|) over word-bigram shingle sets, id_a < id_b.

    Containment catches what Jaccard structurally can't: a short doc
    quoted wholesale inside a much longer one scores |A|/|B| ≈ 0 on
    Jaccard (the union is dominated by the long doc) but 1.0 on
    containment — the quote-inclusion / boilerplate-wrapper shape that
    dominates web-crawl near-dups. Same plan as
    :func:`ngram_jaccard_pairs` via the shared
    :func:`_pair_intersections` core (element-hash equi-join + packed
    pair-key aggregate); only the final per-pair score differs."""
    sh = _exploded_shingles(df, id_col, text_col, None).persist()
    if cache_handles is not None:
        cache_handles.append(sh)
    inter, sizes = _pair_intersections(sh)
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", "containment")
    )


# --- MinHash + LSH -----------------------------------------------------------


def hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingles: DataFrame | None = None,
    task_bytes: int = TEXT_TASK_BYTES,
    partition_by_id: bool = False,
) -> DataFrame:
    """(id, hs: array<long>) — the bigram set hashed once to 60-bit
    via :func:`portable_hash60` (md5 fold, re-derivable in DuckDB SQL).

    Every downstream consumer (minhash permutations, LSH verification)
    operates on fixed-width longs instead of re-hashing shingle STRINGS:
    the string bytes are touched exactly once per shingle. ``sh`` is
    only referenced as the top-level collection argument of the
    transform, so CollapseProject inlining it is harmless (collection
    arguments are evaluated once per row, unlike lambda-body
    references)."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(
            df, id_col, text_col, task_bytes=task_bytes,
            partition_by_id=partition_by_id,
        )
    )
    return sh.select("id", F.transform("sh", lambda g: portable_hash60(g)).alias("hs"))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<long>) — k min-hashes of the word-bigram set.

    Permutation i is the universal hash ((h % P) * a_i + b_i) % P over
    the 60-bit shingle hash (P = 2^31-1; a/b from
    :func:`minhash_perm_constants`) — pure int64 arithmetic, so cost is
    independent of shingle string length AND the identical values are
    re-derivable in a SQL oracle. Computed PER ROW with nested array
    transforms — sig[i] = array_min(transform(hs, perm_i)) — zero
    shuffle, zero explode. The earlier explode + 128-min-column groupBy
    shape shuffled |docs|*|shingles| rows to compute the exact same
    values (~2x slower at sf0.1 and a full extra shuffle at 100 TB).

    The ``when(size(hs) > 0, ...)`` wrapper is a deliberate
    CollapseProject blocker, not a semantic branch (doc_shingles already
    drops shingle-less docs): referencing ``hs`` twice in one projection
    stops Catalyst from inlining the hashed-shingle expression into the
    outer lambda body, where it would be re-evaluated once per
    permutation (measured 4x slower at sf0.1). Docs with under 2 tokens
    are dropped (in doc_shingles), matching the explode-based
    formulation where they simply had no rows. Pass ``hashed`` to reuse
    an already-computed (id, hs) relation from :func:`hashed_shingles`
    (e.g. a persisted one).

    ``h % P`` is hoisted into its own projected array (one mod per
    shingle instead of one per (shingle, permutation) — HOF lambdas are
    interpreted, so shaving an op from the k*|hs| inner loop is real);
    the hoisted projection gets the same when() double-reference
    CollapseProject blocker so it isn't inlined back into the per-
    permutation lambda body."""
    from lakeapi_spark.operators.scale import lit_array

    hs = hashed if hashed is not None else hashed_shingles(df, id_col, text_col)
    a_c, b_c = minhash_perm_constants(num_hashes)
    a_arr = lit_array(a_c, "long")
    b_arr = lit_array(b_c, "long")
    hsm_rel = hs.select(
        "id",
        F.when(
            F.size("hs") > 0, F.transform("hs", lambda h: h % MINHASH_P)
        ).alias("hsm"),
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                "hsm",
                lambda m: (m * F.element_at(a_arr, i + 1)
                           + F.element_at(b_arr, i + 1)) % MINHASH_P,
            )
        ),
    )
    return hsm_rel.select("id", F.when(F.size("hsm") > 0, sig).alias("sig"))


def band_key(sig_col: str, band: int, rows: int) -> Column:
    """LSH bucket key for one band: a polynomial fold of the band's
    signature values in pure int64 arithmetic —
    ``acc = band; acc = (acc * BAND_A + s) % P`` per row. Equal band
    tuples always fold equal (recall preserved); cross-tuple collisions
    (~|buckets|^2 / 2^31 birthday pairs) only add false candidates that
    the exact-Jaccard verify removes. Replaces a per-band md5-of-csv
    fold: same join shape, ~10x cheaper per (doc, band), and still
    re-derivable verbatim in the SQL oracle (plain arithmetic)."""
    acc: Column = F.lit(band).cast("long")
    for r in range(rows):
        acc = (acc * F.lit(BAND_A) + F.element_at(sig_col, band * rows + r + 1)) % F.lit(
            MINHASH_P
        )
    return acc


def minhash_buckets_numpy(
    hs: DataFrame, num_hashes: int = 128, bands: int = 32
) -> DataFrame:
    """(id, bucket) LSH bucket rows from a (id, hs) hashed-shingle
    relation — the vectorized twin of ``explode(array(band_key(...)))``
    over :func:`minhash_signature`, bit-identical by construction (same
    int64 arithmetic, same seeded constants; asserted in
    tests/test_dedup_similarity.py).

    Why a kernel when built-ins express this: Spark evaluates
    higher-order-function lambdas interpreted, one dispatch per
    element — the signature costs k*|hs| interpreted ops per doc
    (~1.5 s of the 3 s pipeline at sf0.1). This mapInPandas kernel is
    one Arrow batch transfer + three numpy ops per doc (measured 2x
    end-to-end). Same justification as similarity.ann_numpy_topk.

    Arithmetic stays exact in int64: h % P < 2^31, * a < 2^62, and the
    band fold keeps acc < P. Per-doc temporaries are chunked to 4096
    shingles (4 MB peak) so a pathological 1M-shingle doc can't OOM an
    executor."""
    import numpy as np
    import pandas as pd

    rows = num_hashes // bands
    a_c, b_c = minhash_perm_constants(num_hashes)
    ac = np.array(a_c, dtype=np.int64)
    bc = np.array(b_c, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            ids, buckets = [], []
            for doc_id, hs_arr in zip(pdf["id"].values, pdf["hs"].values):
                h = np.asarray(hs_arr, dtype=np.int64)
                if h.size == 0:  # builtin path: null sig -> null buckets
                    continue
                h = h % MINHASH_P  # out-of-place: Arrow buffers are read-only
                sig = np.full(num_hashes, MINHASH_P, dtype=np.int64)
                for lo in range(0, h.size, 4096):
                    chunk = h[lo : lo + 4096]
                    perm = (chunk[:, None] * ac[None, :] + bc[None, :]) % MINHASH_P
                    np.minimum(sig, perm.min(axis=0), out=sig)
                acc = np.arange(bands, dtype=np.int64)
                sb = sig.reshape(bands, rows)
                for r in range(rows):
                    acc = (acc * BAND_A + sb[:, r]) % MINHASH_P
                ids.append(np.full(bands, doc_id, dtype=np.int64))
                buckets.append(acc)
            if ids:
                yield pd.DataFrame(
                    {"id": np.concatenate(ids), "bucket": np.concatenate(buckets)}
                )

    return hs.mapInPandas(kernel, "id long, bucket long")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 32,
    cache_handles: list | None = None,
    engine: str = "numpy",
) -> DataFrame:
    """Candidate pairs from banded MinHash, verified with exact Jaccard.

    Defaults tuned for near-dup detection at threshold 0.5: 32 bands x
    4 rows -> LSH crossover (1/32)^(1/4) ~= 0.42; recall at j=0.5 is
    1-(1-0.5^4)^32 ~= 0.87 and false-candidate rate at j=0.05 is ~2e-4
    (so candidate volume stays near-linear even when every document
    shares vocabulary). Candidates are verified with exact bigram
    Jaccard, so precision is exact; recall is property-tested vs the
    exact operator.

    Plan shape: shingle + signature are per-row codegen (no shuffle);
    the only shuffles are ONE bucket groupBy (candidate pairs are
    enumerated in-row from each bucket's sorted id list — the self-join
    formulation shuffled the bucket relation twice AND re-ran the
    signature kernel once per join side) and the two id-keyed verify
    joins, plus a tiny distinct on the post-threshold result.
    Verification fetches each side's shingle ARRAY and intersects
    in-row (array_intersect) — linear in candidate volume, never O(n^2)
    over the corpus. A hot bucket with k members expands k^2/2 pairs
    under either formulation; the groupBy keeps the expansion in the
    reduce task instead of a skew-join fetch.

    The shingle relation feeds both the signature branch and the two
    verify sides, so it is persisted. Pass ``cache_handles`` (a list)
    to receive the persisted DataFrame and ``unpersist()`` it after
    your action — a long-lived serving session that skips this leaks
    cached blocks per request (without the handle, release relies on
    Spark's ContextCleaner collecting the plan).

    ``engine='numpy'`` (default) computes signature+bucket via the
    vectorized kernel (:func:`minhash_buckets_numpy`, 2x end-to-end);
    ``'builtin'`` keeps the pure-DataFrame formulation — both produce
    identical buckets."""
    rows = num_hashes // bands
    # partition_by_id: the persisted relation carries HashPartitioning
    # on the doc id, so BOTH verify joins below reuse it — the shingle
    # arrays (the heavy bytes of this pipeline) are shuffled zero
    # times instead of twice, and the verify stage runs at the
    # relation's full width instead of whatever AQE coalesced the
    # id exchanges to (measured: a 2-task 0.43 s verify stage)
    hs = hashed_shingles(
        df, id_col, text_col, task_bytes=MINHASH_TASK_BYTES,
        partition_by_id=True,
    ).persist()
    if cache_handles is not None:
        cache_handles.append(hs)
    # NO distinct on buckets: a pair matching in several bands yields
    # duplicate candidate rows; de-duplicating buckets first costs a
    # full extra shuffle (measured 2-3x the whole pipeline's latency at
    # sf0.1). Duplicate candidates ride through the verify joins (near-
    # dup pairs are rare, so the duplication factor is tiny in volume)
    # and collapse in the final post-threshold distinct.
    if engine == "numpy":
        buckets = minhash_buckets_numpy(hs, num_hashes, bands)
    else:
        sig = minhash_signature(df, id_col, text_col, num_hashes, hashed=hs)
        band_arr = F.array(*[band_key("sig", b, rows) for b in range(bands)])
        buckets = sig.select("id", F.explode(band_arr).alias("bucket"))
    # candidate pairs per equal bucket VALUE (cross-band fold collisions
    # pair exactly like the old a.bucket == b.bucket self-join): sorted
    # member list, strict x < y pair expansion in-row. Duplicate ids in
    # one bucket (one doc, two bands folding equal) produce x == y and
    # drop, exactly as id_a < id_b did.
    members = (
        buckets.groupBy("bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(
                    "ids", i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        members.select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )
    sa = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a"))
    sb = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b"))
    # Jaccard over HASHED shingles: identical to string-set Jaccard up
    # to 64-bit collisions (~|sh|^2 / 2^64 per doc — never observed at
    # test scale), and array_intersect on longs beats strings.
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


def lsh_quality_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    exact_sample_mod: int | None = None,
) -> DataFrame:
    """One-row LSH quality report: the banded MinHash pair set vs the
    EXACT bigram-Jaccard pair set at the same ``threshold``,
    full-outer-joined into (n_exact, n_lsh, n_common, recall,
    precision) — the bands/rows tuning signal. Precision is 1 by
    construction (LSH verifies candidates with the exact Jaccard);
    recall < 1 quantifies banding misses.

    The exact side costs the one shingle self-join LSH exists to
    avoid, so it is the report's own quadratic hazard at corpus scale.
    ``exact_sample_mod=m`` bounds it: BOTH sides restrict to the
    deterministic md5-sampled doc subset (portable_hash60(id) % m ==
    0 — the er_blocking_quality evaluation pattern), so recall and
    precision are measured over the same (1/m)-universe and the
    all-pairs term is bounded at (n/m)^2 regardless of corpus size.
    ``None`` runs whole — the test-scale / oracle-parity path."""
    from lakeapi_spark.operators.text import portable_hash60

    if exact_sample_mod is not None:
        df = df.filter(
            portable_hash60(F.col(id_col).cast("string"))
            % F.lit(exact_sample_mod)
            == 0
        )
    lsh = (
        minhash_lsh_pairs(df, id_col, text_col, threshold=threshold)
        .select("id_a", "id_b")
        .withColumn("ls", F.lit(1))
    )
    ex = (
        ngram_jaccard_pairs(df, id_col, text_col, threshold=threshold)
        .select("id_a", "id_b")
        .withColumn("ex", F.lit(1))
    )
    m = ex.join(lsh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("ex", F.lit(0)).alias("ex"),
        F.coalesce("ls", F.lit(0)).alias("ls"),
    )
    return m.agg(
        F.sum("ex").alias("n_exact"),
        F.sum("ls").alias("n_lsh"),
        F.sum(F.col("ex") * F.col("ls")).alias("n_common"),
        (
            F.round(
                F.sum(F.col("ex") * F.col("ls")).cast("double") / F.sum("ex"), 6
            )
            + 0.0
        ).alias("recall"),
        (
            F.round(
                F.sum(F.col("ex") * F.col("ls")).cast("double") / F.sum("ls"), 6
            )
            + 0.0
        ).alias("precision"),
    )


# --- SimHash -----------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """(id, simhash: long) — sign-sum simhash over portable 60-bit
    token hashes (:func:`portable_hash60`, oracle-re-derivable).

    Per bit: sum of +-1 across tokens (frequency-weighted — tokens are
    NOT de-duplicated), then bit-assemble. Computed per row: token
    hashes are materialized once as an array column, then each bit is
    an array-aggregate over it — all in whole-stage codegen, zero
    shuffle, zero explode (the earlier explode + per-bit-sum-column
    groupBy shuffled every (doc, token) pair to compute the same
    values). Docs with no tokens are dropped via a cheap raw-text
    predicate (``[^ \\t\\n\\x0B\\f\\r]`` ⟺ ≥1 token) BEFORE the fan_out exchange — a
    post-hoc ``size(hs) > 0`` filter would be predicate-pushed below
    the exchange and re-tokenize every row serially on the narrow scan
    side (see doc_shingles).
    """
    if not 0 < bits <= 62:
        raise ValueError("bits must stay within a non-negative int64")
    hs = fan_out(
        df.filter(F.col(text_col).rlike(r"[^ \t\n\x0B\f\r]")).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_txt")
        ),
        per_partition_bytes=TEXT_TASK_BYTES,
    ).select("id", F.transform(tokens(F.col("_txt")), lambda t: portable_hash60(t)).alias("hs"))

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    fp = None
    for i in range(bits):
        bit = F.when(bit_sum(i) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** i).cast("long")
        fp = term if fp is None else fp + term
    return hs.select("id", fp.alias("simhash"))


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs sharing an identical simhash fingerprint (hamming distance 0;
    the banded-hamming variant splits the 60 bits into 4 bands of 15 and
    buckets on each — same join shape as minhash_lsh_pairs)."""
    s = simhash(df, id_col, text_col)
    return (
        s.groupBy("simhash")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


# --- Embedding near-dup ------------------------------------------------------


def embedding_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All pairs with cosine similarity >= threshold (exact, O(n^2) —
    the LSH-bucketed scale path lives in similarity.py). Dot products in
    double via zip_with/aggregate: built-in, no UDF. Norms are
    precomputed per side (HOF lambdas are interpreted — recomputing
    both norms per pair triples the hot-loop cost)."""
    from lakeapi_spark.operators.similarity import cosine_parts, dot, norm

    a = fan_out(emb, per_partition_bytes=TEXT_TASK_BYTES).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm(F.col(vec_col)).alias("na")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm(F.col(vec_col)).alias("nb")
    )
    sim = cosine_parts(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- Verbatim substring spans ------------------------------------------------


def _window_hashes(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, p, h): the portable 60-bit hash of every ``window``-token
    substring, one row per start position. Token array staged in its
    own projection (CollapseProject blocker) + fan_out before the
    CPU-heavy expansion; the explode is bounded by token count —
    map-only, no shuffle."""
    t = tokens(F.col(text_col))
    staged = fan_out(df, per_partition_bytes=TEXT_TASK_BYTES).select(
        F.col(id_col).alias("id"), F.when(F.size(t) >= 0, t).alias("t")
    )
    wins = F.when(
        F.size("t") < window,
        F.array().cast("array<struct<p:bigint,h:bigint>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - window),
            lambda i: F.struct(
                i.cast("long").alias("p"),
                portable_hash60(
                    F.concat_ws(" ", F.slice("t", i + 1, window))
                ).alias("h"),
            ),
        )
    )
    return staged.select("id", F.explode(wins).alias("w")).select(
        "id", F.col("w.p").alias("p"), F.col("w.h").alias("h")
    )


def corpus_window_hashes(
    corpus: DataFrame, id_col: str, text_col: str, window: int = 20
) -> DataFrame:
    """The existing corpus's DISTINCT window-hash relation — the
    once-per-corpus-version artifact every ingest batch (or micro-batch,
    see streaming.ingest_guard_delta_sink) semi-joins against. Persist it or
    land it next to the table like the BM25 index."""
    return _window_hashes(corpus, id_col, text_col, window).select("h").distinct()


#: (identity, version, build-params) -> persisted corpus-hash relation;
#: version from the table's modified date. Build params (columns,
#: window) are part of the key: a window-10 hash set answering a
#: window-20 lookup would silently admit contaminated docs.
_CORPUS_HASH_CACHE: dict[tuple, DataFrame] = {}


def corpus_hashes_for(
    corpus: DataFrame, id_col: str, text_col: str, key: tuple, window: int = 20
) -> DataFrame:
    """Memoized, persisted :func:`corpus_window_hashes` keyed by
    ``(identity, version)`` PLUS the build parameters — the ingest
    guard's per-corpus-version artifact, built once and reused across
    batches/micro-batches (the operational twin of
    search.bm25_index_for, via the shared artifacts.versioned_artifact
    cache contract)."""
    from lakeapi_spark.artifacts import versioned_artifact

    identity, version = key
    return versioned_artifact(
        _CORPUS_HASH_CACHE,
        identity,
        version,
        (id_col, text_col, window),
        lambda: corpus_window_hashes(corpus, id_col, text_col, window).persist(),
        lambda df: df.unpersist(),
    )


def incremental_dedup_flags(
    new: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    window: int = 20,
    corpus_hashes: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest contamination guard: flag each INCOMING doc
    whose any ``window``-token substring already occurs in the EXISTING
    corpus — the check an append-only pipeline runs per batch so it
    never re-admits boilerplate or near-copies of what it already
    holds. Returns (id, is_known) for every new doc.

    Scale shape: the corpus's distinct window-hash relation is the
    reusable artifact — build it once per corpus version (persist or
    land it next to the table, exactly like the BM25 index keyed by
    modified date) and each incoming batch pays only its own hashing
    plus a LEFT SEMI join against it (hash-partitioned both sides; the
    batch is small, the corpus relation is the big-but-static side).
    This is the batch-incremental twin of streaming
    ``dropDuplicatesWithinWatermark`` (which bounds state by TIME; this
    bounds nothing — the corpus hash set IS the state, stored not
    streamed). Pass a precomputed ``corpus_hashes`` relation
    (:func:`corpus_window_hashes`) to skip re-hashing the corpus —
    mandatory in per-micro-batch use."""
    nh = _window_hashes(new, id_col, text_col, window)
    if corpus_hashes is not None:
        ch = corpus_hashes
    else:
        if corpus is None:
            raise ValueError("need corpus or corpus_hashes")
        ch = corpus_window_hashes(corpus, id_col, text_col, window)
    hits = (
        nh.join(ch, "h", "left_semi")
        .select("id")
        .distinct()
        .withColumn("is_known", F.lit(True))
    )
    return (
        new.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select("id", F.coalesce("is_known", F.lit(False)).alias("is_known"))
    )


def substring_dup_spans(
    df: DataFrame, id_col: str, text_col: str, window: int = 20
) -> DataFrame:
    """Verbatim duplicated-substring spans at token granularity — the
    within-document twin of document-level dedup (after Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    which removes REPEATED SUBSTRINGS, not just whole near-dup docs).
    Returns (id, start_pos, end_pos, n_windows): maximal runs of token
    positions whose ``window``-token substring occurs more than once
    anywhere in the corpus (cross-doc boilerplate or within-doc
    repetition). A downstream pass cuts these spans out of the text.

    Plan shape, 100 TB-ready:
    1. per-position window hashes: one staged token projection (the
       CollapseProject blocker — see :func:`_doc_grams` in
       contamination.py for the 27x trap) + an explode bounded by
       token count — map-only;
    2. duplicated positions: COUNT() OVER (PARTITION BY h) — ONE
       shuffle on the window hash, one pass (the groupBy + join-back
       spelling evaluates the expensive hash map twice; the window
       spelling was measured 1.7x faster end-to-end at sf0.1). This is
       where the Lee et al. suffix-array step collapses to, because
       the window length is fixed;
    3. span merge: the classic p - row_number() gaps-and-islands
       grouping, partitioned BY DOC — no global sort, state bounded by
       one doc's positions.

    Hashing through portable_hash60 keeps every intermediate
    re-derivable in the SQL oracle (collisions: 60-bit over ~corpus
    windows — negligible, and a collision only widens a span)."""
    pos = _window_hashes(df, id_col, text_col, window)
    from pyspark.sql.window import Window as W

    d = pos.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("h"))).filter(
        F.col("n") > 1
    )
    isl = d.withColumn(
        "grp", F.col("p") - F.row_number().over(W.partitionBy("id").orderBy("p"))
    )
    return (
        isl.groupBy("id", "grp")
        .agg(
            F.min("p").alias("start_pos"),
            F.max("p").alias("end_pos"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def cut_dup_spans(
    df: DataFrame, id_col: str, text_col: str, window: int = 20
) -> DataFrame:
    """APPLY the substring-span cut (detection -> removal, the second
    half of Lee et al. 2022): drop every token covered by a duplicated
    span and reassemble the text. Returns
    (id, n_tokens_before, n_tokens_after, cleaned_text) for every doc
    (docs with no spans pass through unchanged).

    A span of window starts [start_pos, end_pos] covers tokens
    [start_pos, end_pos + window - 1]. Spans per doc are FEW (they are
    maximal runs), so they ride back onto the doc row as a collected
    array — the cut itself is then a pure per-row expression:
    F.filter's (element, index) lambda tests each token index against
    the span array with F.exists. No second explode, no extra shuffle
    beyond the span detection's own two."""
    spans = substring_dup_spans(df, id_col, text_col, window)
    sp_t = "array<struct<start_pos:bigint,end_pos:bigint>>"
    sp = spans.groupBy("id").agg(
        F.collect_list(F.struct("start_pos", "end_pos")).alias("sp")
    )
    t = tokens(F.col(text_col))
    staged = df.select(F.col(id_col).alias("id"), F.when(F.size(t) >= 0, t).alias("t"))
    joined = staged.join(sp, "id", "left").withColumn(
        "sp", F.coalesce("sp", F.array().cast(sp_t))
    )
    kept = F.filter(
        "t",
        lambda x, i: ~F.exists(
            "sp",
            lambda s: (i.cast("long") >= s["start_pos"])
            & (i.cast("long") <= s["end_pos"] + F.lit(window - 1)),
        ),
    )
    return joined.select(
        "id",
        F.size("t").cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


# --- Semantic dedup (cluster-then-compare) -----------------------------------


def _auto_quantizer(emb: DataFrame, vec_col: str, n_centroids: int | None):
    """k-means coarse quantizer with k defaulting to ceil(sqrt(n)) —
    the rule that keeps per-cluster pair volume linear in the corpus.
    k is clamped to the corpus size and the k-means driver sample is
    grown with k (2k rows, min 2048): the fixed default sample would
    make rng.choice raise once sqrt(n) passes 2048 (~4.2M embeddings),
    i.e. exactly at the scale the auto rule targets. Driver memory
    stays bounded at O(k * dim) doubles."""
    import math as _math

    from lakeapi_spark.operators.similarity import ivf_fit_centroids

    n = emb.count()
    if n == 0:
        raise ValueError("semantic dedup needs a non-empty embeddings relation")
    k = n_centroids or max(2, _math.isqrt(n - 1) + 1)
    k = min(k, n)
    return ivf_fit_centroids(emb, vec_col, k, sample_rows=max(2048, 2 * k))


def _semantic_assignments(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None,
    n_centroids: int | None = None,
    use_kernel: bool = True,
    n_probe: int = 1,
) -> DataFrame:
    """(id, v, nrm, cid): every embedding routed to its nearest
    centroid by cosine — one codegen pass over centroid literals, zero
    shuffle. With ``centroid_ids`` the quantizer is the value-exact
    seeded data-point one (SQL-oracle-re-derivable; bounded driver
    collect of len(centroid_ids) rows); without it, a driver-sample
    k-means (similarity.ivf_fit_centroids) with ``n_centroids``
    defaulting to ceil(sqrt(n)) — the scaling rule SCALING.md calls
    for: per-cluster population n/k stays ~sqrt(n), so the pair join's
    Σ|cluster|² volume grows LINEARLY with the corpus instead of
    quadratically (the one corpus count() action is metadata-cheap)."""
    from lakeapi_spark.operators.similarity import (
        _nearest_centroids,
        _nearest_seeded,
        norm,
        seeded_centroids,
    )

    if use_kernel:
        return _semantic_assignments_kernel(
            emb, id_col, vec_col, centroid_ids, n_centroids, n_probe
        )
    if centroid_ids is not None:
        cents = seeded_centroids(emb, id_col, vec_col, centroid_ids)

        def near(v, nrm):
            return _nearest_seeded(v, nrm, cents, n_probe)

    else:
        fitted = _auto_quantizer(emb, vec_col, n_centroids)

        def near(v, nrm):
            return _nearest_centroids(v, fitted, n_probe)

    staged = fan_out(emb, per_partition_bytes=TEXT_TASK_BYTES).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    if n_probe == 1:
        return staged.select(
            "id", "v", "nrm", near(F.col("v"), F.col("nrm"))[0].alias("cid")
        )
    return staged.select(
        "id", "v", "nrm", F.explode(near(F.col("v"), F.col("nrm"))).alias("cid")
    )


def _semantic_assignments_kernel(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None,
    n_centroids: int | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Arrow-batched twin of the expression assignment (same pattern as
    the minhash bucket kernel and similarity.numpy_topk): one BLAS
    matmul per batch against the centroid matrix instead of
    n_centroids interpreted HOF dots per row. Value-parity rules:

    - seeded quantizer: cid = argmax of ROUND(dot/(nrm*cnorm), 4),
      first max = lowest cid — numpy argmax's first-occurrence rule IS
      the expression path's (negcos, cid) sort order; cnorms reuse the
      sequential-sum values from seeded_centroids so the oracle's
      rounding grid lines up;
    - k-means quantizer: cid = argmax of the UNROUNDED dot against the
      normalized centroids (what _nearest_centroids computes; argmax is
      invariant to the row's own norm, so no division needed).

    Differential-tested against the expression twin in
    tests/test_dedup_similarity.py."""
    import numpy as np
    import pandas as pd  # noqa: F401  (executors re-import in the worker)

    from lakeapi_spark.operators.similarity import seeded_centroids

    if centroid_ids is not None:
        seeded = seeded_centroids(emb, id_col, vec_col, centroid_ids)
        cents_mat = np.array([c for c, _ in seeded], dtype=np.float64)
        cnorms = np.array([cn for _, cn in seeded], dtype=np.float64)
        rounded = True
    else:
        fitted = _auto_quantizer(emb, vec_col, n_centroids)
        cents_mat = fitted / np.maximum(
            np.linalg.norm(fitted, axis=1, keepdims=True), 1e-12
        )
        cnorms = None
        rounded = False

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            if rounded:
                score = np.round((V @ cents_mat.T) / np.outer(nrm, cnorms), 4)
            else:
                score = V @ cents_mat.T
            if n_probe == 1:
                yield pd.DataFrame(
                    {
                        "id": pdf[id_col].to_numpy(),
                        "cid": score.argmax(axis=1).astype("int32"),
                        "nrm": nrm,
                        "v": pdf[vec_col],
                    }
                )
                continue
            # top-n_probe clusters per row: stable argsort of -score, so
            # ties resolve to the LOWER cid — the (negcos, cid) sort
            # order of the expression twin
            top = np.argsort(-score, axis=1, kind="stable")[:, :n_probe]
            ids = np.repeat(pdf[id_col].to_numpy(), n_probe)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "cid": top.reshape(-1).astype("int32"),
                    "nrm": np.repeat(nrm, n_probe),
                    "v": pdf[vec_col].repeat(n_probe).reset_index(drop=True),
                }
            )

    return fan_out(emb.select(id_col, vec_col), per_partition_bytes=TEXT_TASK_BYTES).mapInPandas(
        kernel, schema="id long, cid int, nrm double, v array<float>"
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None,
    threshold: float,
    cache_handles: list | None = None,
    n_centroids: int | None = None,
    use_kernel: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (cluster-then-compare,
    after Abbas et al. 2023): route every embedding to its nearest
    coarse centroid, then emit cosine pairs >= threshold only WITHIN
    each cluster (id_a < id_b). Returns (cid, id_a, id_b, cos_sim).

    This is the embedding twin of MinHash-LSH's bucket trick: the
    all-pairs O(n^2) of :func:`embedding_dup_pairs` collapses to
    O(sum_c |cluster_c|^2) — a k-fold cut with k balanced clusters, and
    at 100 TB the cluster id doubles as the storage partitioning so
    pair generation becomes a per-partition local job. Cross-cluster
    near-dups are missed by design — SemDeDup's recall trade; shrink it
    by assigning boundary points to their n>1 nearest clusters (the
    n_probe twin).

    Two implementations, differential-tested against each other:

    - ``use_kernel=True`` (default): Arrow-batched numpy — assignment
      is one BLAS matmul per batch (mapInPandas), pair scoring is one
      blocked gram-matrix matmul per cluster (applyInPandas after the
      single cid shuffle). Same pattern as the minhash bucket kernel.
    - ``use_kernel=False``: pure built-in expressions — assignment via
      codegen over centroid literals, pairs via a self-equi-join on
      cid; the assignment relation is persisted (pass ``cache_handles``
      to release it — serving sessions must).

    The seeded quantizer keeps every value SQL-oracle-re-derivable in
    both paths; ``centroid_ids=None`` switches to the k-means quantizer
    with ``n_centroids`` defaulting to ceil(sqrt(n)) — the production
    scaling rule that holds pair volume linear in the corpus."""
    if use_kernel:
        n_total = emb.count()  # metadata-cheap; proves the cap can't bind
        assigned = _semantic_assignments(
            emb, id_col, vec_col, centroid_ids, n_centroids, use_kernel=True
        )
        if n_total > _SEM_MAX_CLUSTER_ROWS:
            # the mega-cluster guard will probe cluster sizes — persist
            # so the assignment matmul is paid once, not twice
            assigned = assigned.persist()
            if cache_handles is not None:
                cache_handles.append(assigned)
        return _semantic_pairs_kernel(assigned, threshold, total_rows=n_total)

    from lakeapi_spark.operators.similarity import cosine_parts, dot

    sides = _semantic_assignments(
        emb, id_col, vec_col, centroid_ids, n_centroids, use_kernel=False
    ).persist()
    if cache_handles is not None:
        cache_handles.append(sides)
    a = sides.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "cid"
    )
    b = sides.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "cid"
    )
    sim = cosine_parts(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(sim, 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("cid", "id_a", "id_b", "cos_sim")
    )


def semantic_dedup_pairs_multiprobe(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None,
    threshold: float,
    n_probe: int = 2,
    n_centroids: int | None = None,
    cache_handles: list | None = None,
) -> DataFrame:
    """The boundary-recall dial for semantic dedup: every vector joins
    its ``n_probe`` nearest clusters (not just the nearest), so a
    near-dup pair split across a cluster boundary is still co-bucketed
    whenever the two share ANY of their probed clusters — the same
    recall lever IVF search calls n_probe. Pair volume grows ~n_probe²
    per cluster in the worst case; pairs found in two shared clusters
    collapse with one distinct over the (small, post-threshold) pair
    set. Returns (id_a, id_b, cos_sim)."""
    n_total = emb.count()  # a cluster holds <= n_total rows even multiprobed
    assigned = _semantic_assignments(
        emb, id_col, vec_col, centroid_ids, n_centroids, n_probe=n_probe
    )
    if n_total > _SEM_MAX_CLUSTER_ROWS:
        assigned = assigned.persist()  # size probe + scoring: pay matmul once
        if cache_handles is not None:
            cache_handles.append(assigned)
    pairs = _semantic_pairs_kernel(assigned, threshold, total_rows=n_total)
    return pairs.select("id_a", "id_b", "cos_sim").distinct()


#: per-task row cap for the semantic pair kernel: a cluster larger
#: than this is hash-split into blocks and scored as (block_i,
#: block_j) tasks, so no applyInPandas task ever materializes more
#: than 2 x cap vectors (at dim 768 float64 that is ~400 MB — inside
#: one executor's working set; tune down for fatter embeddings).
_SEM_MAX_CLUSTER_ROWS = 32768


def _semantic_pairs_kernel(
    assigned: DataFrame,
    threshold: float,
    max_cluster_rows: int = _SEM_MAX_CLUSTER_ROWS,
    total_rows: int | None = None,
) -> DataFrame:
    """Per-cluster pair scoring as ONE blocked gram-matrix matmul
    (applyInPandas over groupBy(cid) — the same single cid shuffle the
    equi-join spelling paid, but BLAS instead of one interpreted
    HOF-lambda walk per pair). Value parity with the expression twin:
    cos = ROUND(dot / (nrm_a * nrm_b), 4) on the SAME nrm values the
    assignment emitted. Row blocks of 1024 bound the gram slice to
    1024 x |cluster| doubles.

    MEGA-CLUSTER GUARD: a cluster above ``max_cluster_rows`` (hot
    centroid — boilerplate embeddings) would otherwise materialize all
    its vectors in ONE task's memory. Such clusters are hash-split
    into ceil(n/cap) blocks and every unordered block pair (gi <= gj)
    becomes its own task holding at most TWO blocks — per-task memory
    is bounded at 2 x cap vectors no matter how hot the centroid. The
    pair set is identical (each {a, b} lands in exactly the
    (min(blk_a, blk_b), max(...)) group, and the same rounded cosine
    is computed), so results match the unsplit kernel bit-for-bit.
    Total work stays O(|cluster|^2) — SemDeDup's sqrt(n) centroid rule
    and n_probe are the levers that keep clusters small; this guard
    only converts "hot centroid OOMs a task" into "hot centroid takes
    more tasks".

    The guard engages LAZILY: ``total_rows`` (a metadata-cheap corpus
    count the callers supply) proves no cluster CAN exceed the cap
    when the whole corpus fits it — the common small/medium case keeps
    the original single-shuffle plan with zero extra jobs. Only above
    the bound do cluster sizes get probed (one count aggregate over
    the assignment relation — persist it upstream so the assignment
    matmul is paid once)."""
    import numpy as np
    import pandas as pd  # noqa: F401

    def _score_within(pdf, pd, np):
        # all-pairs within one row set, id_a < id_b, blocked gram
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["id"].to_numpy()
        cid = int(pdf["cid"].iloc[0])
        out = []
        B = 1024
        for s in range(0, len(ids), B):
            blk = slice(s, min(s + B, len(ids)))
            C = np.round((V[blk] @ V.T) / np.outer(nrm[blk], nrm), 4)
            mask = (C >= threshold) & (ids[blk][:, None] < ids[None, :])
            r, c = np.nonzero(mask)
            if len(r):
                out.append(
                    pd.DataFrame(
                        {
                            "cid": cid,
                            "id_a": ids[blk][r],
                            "id_b": ids[c],
                            "cos_sim": C[r, c],
                        }
                    )
                )
        return out

    def _empty(pd):
        return pd.DataFrame(
            {"cid": pd.Series(dtype="int32"), "id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"), "cos_sim": pd.Series(dtype="float64")}
        )

    def score(pdf):
        import pandas as pd

        out = _score_within(pdf, pd, np)
        if not out:
            return _empty(pd)
        return pd.concat(out, ignore_index=True)

    def score_block_pair(key, pdf):
        import pandas as pd

        _cid, gi, gj = (int(k) for k in key)
        if gi == gj:
            out = _score_within(pdf, pd, np)
            return pd.concat(out, ignore_index=True) if out else _empty(pd)
        a = pdf[pdf["_blk"] == gi]
        b = pdf[pdf["_blk"] == gj]
        if len(a) == 0 or len(b) == 0:
            return _empty(pd)
        VA = np.array(a["v"].tolist(), dtype=np.float64)
        VB = np.array(b["v"].tolist(), dtype=np.float64)
        ids_a = a["id"].to_numpy()
        ids_b = b["id"].to_numpy()
        nrm_a = a["nrm"].to_numpy()
        nrm_b = b["nrm"].to_numpy()
        cid = int(pdf["cid"].iloc[0])
        out = []
        B = 1024  # gram SLICE stays 1024 x |block| — never |A| x |B|
        for s in range(0, len(ids_a), B):
            blk = slice(s, min(s + B, len(ids_a)))
            C = np.round((VA[blk] @ VB.T) / np.outer(nrm_a[blk], nrm_b), 4)
            mask = (C >= threshold) & (ids_a[blk][:, None] != ids_b[None, :])
            r, c = np.nonzero(mask)
            if len(r):
                out.append(
                    pd.DataFrame(
                        {
                            "cid": cid,
                            "id_a": np.minimum(ids_a[blk][r], ids_b[c]),
                            "id_b": np.maximum(ids_a[blk][r], ids_b[c]),
                            "cos_sim": C[r, c],
                        }
                    )
                )
        return pd.concat(out, ignore_index=True) if out else _empty(pd)

    schema = "cid int, id_a long, id_b long, cos_sim double"
    if total_rows is not None and total_rows <= max_cluster_rows:
        # the whole corpus fits one task's budget, so no cluster can
        # exceed it — original single-shuffle plan, zero extra jobs
        return assigned.groupBy("cid").applyInPandas(score, schema=schema)
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
    max_n = sizes.agg(F.max("_n")).first()[0] or 0
    if max_n <= max_cluster_rows:
        # no hot centroid this run — keep the original plan. The probe
        # is one tiny agg over the persisted assignment relation.
        return assigned.groupBy("cid").applyInPandas(score, schema=schema)
    routed = assigned.join(F.broadcast(sizes), "cid")
    small = routed.filter(F.col("_n") <= max_cluster_rows).drop("_n")
    small_pairs = small.groupBy("cid").applyInPandas(score, schema=schema)
    big = (
        routed.filter(F.col("_n") > max_cluster_rows)
        .withColumn(
            "_nb",
            F.ceil(F.col("_n") / F.lit(max_cluster_rows)).cast("int"),
        )
        .withColumn("_blk", F.pmod(F.xxhash64("id"), F.col("_nb")).cast("int"))
        .select(
            "cid",
            "id",
            "v",
            "nrm",
            "_blk",
            F.explode(
                F.expr(
                    "transform(sequence(0, _nb - 1),"
                    " j -> struct(least(_blk, j) AS gi, greatest(_blk, j) AS gj))"
                )
            ).alias("_g"),
        )
        .select(
            "cid", "id", "v", "nrm", "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
    )
    big_pairs = big.groupBy("cid", "_gi", "_gj").applyInPandas(
        score_block_pair, schema=schema
    )
    return small_pairs.unionByName(big_pairs)


def semantic_dedup_summary(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    threshold: float,
    cache_handles: list | None = None,
) -> DataFrame:
    """Per-cluster pruning report: (cid, n_docs, n_removed, keep_frac).
    A doc is removed iff some LOWER-id doc in its cluster is
    cosine-similar >= threshold (the deterministic min-id keeper rule
    every dedup operator here shares), so n_removed = distinct id_b
    over the pair set. One extra tiny aggregate over the pairs plus the
    per-cluster counts — the shape a pipeline dashboard reads to tune
    the threshold before committing to a full prune. The pair kernel
    and the per-cluster counts share one persisted assignment relation;
    pass ``cache_handles`` to release it after your action."""
    sides = _semantic_assignments(emb, id_col, vec_col, centroid_ids).persist()
    if cache_handles is not None:
        cache_handles.append(sides)
    # sides is persisted anyway (counts + pairs share it), so the
    # mega-cluster size probe rides the cache when it engages
    pairs = _semantic_pairs_kernel(sides, threshold, total_rows=emb.count())
    removed = pairs.groupBy("cid").agg(
        F.count_distinct("id_b").alias("n_removed")
    )
    return (
        sides.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(removed, "cid", "left")
        .select(
            "cid",
            "n_docs",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.round((F.col("n_docs") - F.coalesce("n_removed", F.lit(0))) / F.col("n_docs"), 4).alias(
                "keep_frac"
            ),
        )
    )


# --- Near-dup clustering (connected components) ------------------------------


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) — connected components over a dup-pair edge
    list; cluster_id is the component's minimum id (the canonical
    keeper a dedup pipeline retains).

    Min-label propagation: every vertex starts labeled with itself;
    each round takes the min of its own and its neighbors' labels,
    until a fixed point. Convergence is detected with a monotone
    invariant — labels only ever DECREASE, so the global label sum
    strictly decreases iff any vertex changed; one tiny agg per round
    instead of a join-diff. Rounds = component diameter; near-dup
    clusters are shallow (stars/cliques), so 2-3 rounds in practice.
    For adversarial long-chain graphs at 100 TB the alternating
    large-star/small-star variant halves path lengths per round
    (O(log n) worst case) with the same join shape — this operator
    keeps the simple propagation because dedup graphs are
    diameter-bounded.

    Each round: one shuffle (edges join labels on src, partial min
    map-side) + the broadcast-back of the label relation (|V| rows,
    one per doc). Labels persist round-over-round; the previous
    round's cache is released eagerly."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # localCheckpoint (not persist): each round's plan must start from a
    # MATERIALIZED leaf, or the logical plan grows by one join per round
    # and re-analysis turns the loop quadratic in iterations (measured:
    # a 20-round chain graph went from minutes to seconds). On a real
    # cluster use reliable checkpoint() to survive executor loss.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least("label", F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # max_iter exhausted before the label-sum fixpoint: labels are
        # partially propagated — oversplit clusters that the caller
        # could not distinguish from converged ones (same discipline
        # as graph.k_core's peel guard).
        raise RuntimeError(
            f"dup_clusters: min-label propagation did not converge within "
            f"max_iter={max_iter} rounds; raise max_iter or use "
            f"dup_clusters_star (O(log n) rounds) for long-chain graphs"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) — doc pairs whose 60-bit simhash differs
    in at most ``max_hamming`` bits.

    Banded LSH on the fingerprint itself: the 60 bits split into 4
    bands of 15; by pigeonhole, any pair within hamming distance 3
    agrees EXACTLY on at least one band, so candidates = pairs sharing
    a (band_index, band_value) bucket — recall is 1.0 by construction
    for max_hamming <= 3, not probabilistic. Verification is one
    bit_count(xor) per candidate. Same join shape as minhash LSH: the
    only shuffles are the bucket self-join and the candidate distinct;
    fingerprints are per-row codegen."""
    s = simhash(df, id_col, text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * 15)
                .bitwiseAND(F.lit(0x7FFF))
                .alias("val"),
            )
            for b in range(4)
        ]
    )
    buckets = s.select("id", "simhash", F.explode(bands).alias("bk"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk.band") == F.col("b.bk.band"))
            & (F.col("a.bk.val") == F.col("b.bk.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dup_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 64,
) -> DataFrame:
    """(id, cluster_id) via alternating large-star / small-star rounds —
    the O(log n)-round connected-components shape for ADVERSARIAL graphs
    (long chains), where plain min-label propagation (``dup_clusters``)
    needs diameter-many rounds. Same output contract: cluster_id is the
    component minimum.

    Large-star: every node connects its strictly-larger neighbors to the
    minimum of its neighborhood (including itself). Small-star: every
    node connects its smaller-or-self neighborhood to that minimum.
    Alternating the two at least halves chain lengths per pair of rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14), so a 1000-node path converges in ~log2(1000) alternations
    instead of ~1000 propagation rounds.

    Per round: one groupBy(u) min + one join — the same single-shuffle
    shape as a propagation round, so the win is purely in ROUND COUNT.
    Rounds end at a fixed point of the canonical edge set, detected with
    a count + order-insensitive xxhash64 aggregate (one tiny agg per
    round). localCheckpoint keeps the plan from growing per round (use
    reliable checkpoint() on a real cluster)."""
    ids = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ed = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _fingerprint(e: DataFrame) -> tuple:
        canon = e.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        ).distinct()
        # bit_xor: order-insensitive and immune to ANSI long overflow
        # (sum of 64-bit hashes overflows); pairs are distinct so no
        # self-cancellation
        row = canon.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
        return (row.n, row.h)

    prev = _fingerprint(ed)
    for _ in range(max_iter):
        # large-star over the symmetric edge set
        mn = ed.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        ls = (
            ed.filter(F.col("v") > F.col("u"))
            .join(mn, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ed = _sym(ls).localCheckpoint(eager=True)
        # small-star over the downward direction (v < u)
        down = ed.filter(F.col("v") < F.col("u"))
        mn2 = down.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            down.join(mn2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mn2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        ed = _sym(ss).localCheckpoint(eager=True)
        cur = _fingerprint(ed)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dup_clusters_star: edge set did not reach its fixpoint within "
            f"max_iter={max_iter} alternations (needs ~log2(longest chain)); "
            f"raise max_iter"
        )

    # fixed point = stars rooted at component minima: each non-root has
    # exactly one downward edge (u -> root); roots label themselves
    down = ed.filter(F.col("v") < F.col("u")).groupBy("u").agg(F.min("v").alias("label"))
    return ids.join(down, ids.id == down.u, "left").select(
        "id", F.coalesce("label", "id").alias("cluster_id")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 19,
    threshold_den: int = 20,
) -> DataFrame:
    """All document pairs with exact token-SET Jaccard >= num/den via
    prefix filtering (the AllPairs/PPJoin family — Bayardo et al.
    WWW'07, Vernica et al. SIGMOD'10): order each doc's distinct
    tokens by ascending global frequency and emit only the first
    ``sz - ceil(t*sz) + 1`` (the "prefix") as candidate keys — two
    docs whose prefixes are disjoint CANNOT reach the threshold
    (pigeonhole on the sorted-universe overlap), so the candidate join
    keys on rare tokens only. Complements :func:`minhash_lsh_pairs`
    (probabilistic, fixed cost) with an EXACT join whose cost adapts
    to the threshold. The threshold is a rational num/den so prefix
    lengths and the final verify are integer-exact in any engine.

    Plan shape (4 keyed shuffles, no driver collect):
    token-frequency groupBy -> broadcast dictionary join (token
    vocabulary is Heaps-law sublinear in corpus size) -> per-doc
    window sort (partitioned by doc, parallel) -> candidate equi-join
    on prefix token + size filter ``min*den >= num*max`` -> distinct
    pair -> two id-keyed joins count the exact intersection for the
    final integer verify. At 100 TB the candidate join stays bounded
    because high-frequency tokens never land in a prefix at high
    thresholds; skewed rare-token buckets split under AQE.

    Returns (id_a, id_b, inter_sz, union_sz, jaccard) with id_a < id_b.
    """
    from pyspark.sql.window import Window

    toks = (
        fan_out(df, per_partition_bytes=TEXT_TASK_BYTES)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
        )
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ordered = (
        toks.join(F.broadcast(freq), "token")
        .select(
            "id",
            "token",
            F.row_number()
            .over(Window.partitionBy("id").orderBy("cnt", "token"))
            .alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
        )
    )
    # prefix length L = sz - ceil(num*sz/den) + 1, integer-exact:
    # ceil(num*sz/den) = (num*sz + den - 1) div den, spelled as an
    # exactly-divisible subtraction so the double division is lossless
    x = F.col("sz") * threshold_num + (threshold_den - 1)
    ceil_ts = ((x - x % threshold_den) / threshold_den).cast("long")
    pref = ordered.filter(F.col("pos") <= F.col("sz") - ceil_ts + 1)
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            F.least("a.sz", "b.sz") * threshold_den
            >= F.greatest("a.sz", "b.sz") * threshold_num
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    ta = toks.select(F.col("id").alias("id_a"), "token")
    tb = toks.select(F.col("id").alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter_sz")
    return (
        inter.filter(F.col("inter_sz") * threshold_den >= union_sz * threshold_num)
        .select(
            "id_a",
            "id_b",
            "inter_sz",
            union_sz.alias("union_sz"),
            F.round(F.col("inter_sz") / union_sz, 6).alias("jaccard"),
        )
    )


def best_dedup_keepers(
    df: DataFrame, id_col: str, text_col: str, score_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST duplicate instead of the first:
    one row per distinct normalized text with the keeper chosen by
    (score DESC, id ASC) — what a pipeline wants when duplicates
    differ in upstream quality (cleanest extraction wins, not lowest
    id). Same one-shuffle shape as :func:`exact_dedup_keepers`:
    ``max_by`` over a packed (score, -id) ordering struct, partial
    aggregation map-side."""
    pick = F.struct(
        F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni")
    )
    return (
        df.select(
            F.col(id_col),
            F.col(score_col),
            F.md5(normalized(F.col(text_col))).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.max_by(F.col(id_col), pick).alias("keeper_id"),
            F.max(F.col(score_col)).alias("keeper_score"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )
