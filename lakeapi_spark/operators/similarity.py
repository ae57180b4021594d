"""Similarity search over an embedding column (greenfield extension).

Two paths:

- brute-force top-k (the correctness baseline): query set x corpus
  cross product with the small side broadcast; cosine via built-in
  higher-order functions (zip_with/aggregate — JVM, no Python). Exact,
  oracle-verifiable. At 100 TB this is what you run for a handful of
  queries; the corpus scan is embarrassingly parallel and the top-k is
  a per-partition heap (window row_number <= k after AQE coalesce).

- LSH-bucketed (the scale path for query sets that are themselves
  huge): random-hyperplane signatures (sign of dot with d fixed
  deterministic planes) -> bucket equi-join -> exact re-rank within
  buckets. Planes are generated from a seeded PRNG on the driver and
  shipped as literals — executors stay deterministic.

- numpy batch kernel (mapInPandas): the Arrow-vectorized alternative
  when the built-in lambda path becomes the bottleneck — one BLAS
  matmul per batch instead of per-element codegen. Same results.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lakeapi_spark.operators.scale import fan_out


def dot(va: Column, vb: Column) -> Column:
    """Dot product of two array<float> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(v: Column) -> Column:
    """L2 norm of an array<float> column, in double."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_parts(d: Column, na: Column, nb: Column) -> Column:
    """NaN-free cosine from a precomputed dot product and per-side
    norms: a zero-norm vector (a failed/missing embedding — they DO
    occur in real corpora) scores 0.0 instead of 0/0 = NaN. This is
    load-bearing for ranking: Spark orders NaN ABOVE every double, so
    an unguarded zero vector would NaN-sort to the TOP of every
    ``ORDER BY cosine DESC`` top-k, while the numpy kernels (which
    guard with ``max(norm, 1e-12)`` and thus score such rows 0.0)
    would rank it last — the two documented-equivalent paths must
    agree."""
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def cosine(va: Column, vb: Column) -> Column:
    """Cosine similarity of two array<float> columns, computed in
    double; zero-norm vectors score 0.0 (see :func:`cosine_parts`).

    NOTE for hot paths: array lambdas are evaluated interpreted (HOFs
    sit outside whole-stage codegen), so pairwise operators should
    precompute ``norm`` per SIDE before the join and use
    ``cosine_parts(dot(a,b), na, nb)`` — 3x fewer lambda walks per
    pair."""
    return cosine_parts(dot(va, vb), norm(va), norm(vb))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Ranking uses the rounded cosine with an id tie-break so results are
    totally ordered (and thus engine-independent).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = fan_out(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    sim = cosine_parts(dot(F.col("qvec"), F.col("cvec")), F.col("qn"), F.col("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(sim, round_digits))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    round_digits: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    'confusable' examples a contrastive loss learns the most from.
    Identical ranking discipline to :func:`brute_force_topk` (rounded
    cosine desc, neighbor-id tie-break), plus the label-inequality
    predicate evaluated inside the broadcast join so mismatched pairs
    never materialize. Returns (query_id, query_label, neighbor_id,
    neg_label, cosine, rank).

    Scale: queries broadcast (the query set is the small side by
    construction); the corpus streams map-side — same shape as the
    brute-force baseline, and the same LSH/IVF candidate generators
    can replace the full scan when the corpus is 100 TB."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = fan_out(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    sim = cosine_parts(dot(F.col("qvec"), F.col("cvec")), F.col("qn"), F.col("cn"))
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neg_label")),
        )
        .withColumn("cosine", F.round(sim, round_digits))
        .select("query_id", "query_label", "neighbor_id", "neg_label", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantized_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    keep_vec: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(out_id, _q: array<long>, _n2: long[, _v]) — int8-range symmetric
    quantization ``q_i = round(127 * x_i / max|x|)`` plus the integer
    squared norm, all built-in expressions. max|x| is hoisted into its
    own projection (when() double-reference blocker) so it isn't
    re-evaluated per element inside the quantize lambda. ``keep_vec``
    carries the float vector through for consumers that also need it
    (e.g. the IVF coarse quantizer); ``carry`` threads extra existing
    columns (e.g. a precomputed centroid id) through unchanged."""
    keep = ["_v"] if keep_vec else []
    keep += list(carry)
    base = df.select(
        F.col(id_col).alias(out_id), F.col(vec_col).alias("_v"), *carry
    )
    m_rel = base.select(
        out_id,
        "_v",
        *carry,
        F.when(
            F.size("_v") >= 0, F.array_max(F.transform("_v", lambda x: F.abs(x)))
        ).alias("_m"),
    )
    qv = F.when(
        F.col("_m") > 0,
        F.transform("_v", lambda x: F.round(x / (F.col("_m") / 127)).cast("long")),
    ).otherwise(F.transform("_v", lambda x: F.lit(0).cast("long")))
    q_rel = m_rel.select(out_id, *keep, qv.alias("_q"))
    n2 = F.aggregate(
        F.transform("_q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return q_rel.select(out_id, *keep, "_q", F.when(F.size("_q") >= 0, n2).alias("_n2"))


def quantized_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k over int8-QUANTIZED vectors — the 4x-smaller storage
    path for a 100 TB embedding corpus (store array<byte> + one scale
    instead of array<float>).

    The per-vector scales CANCEL in cosine:
    cos(deq_a, deq_b) = intdot(qa,qb) / (sqrt(n2_a) * sqrt(n2_b)),
    so the score is computed from integer dot products — bit-exact
    across engines by construction (no float-summation-order concerns),
    which is why the DuckDB oracle matches it hash-for-hash. Same
    output contract as :func:`brute_force_topk`; recall vs the float
    path is property-tested (quantization error ~1/254 per component).
    """
    q = F.broadcast(quantized_vectors(queries, id_col, vec_col, "query_id"))
    c = quantized_vectors(fan_out(emb), id_col, vec_col, "neighbor_id")
    intdot = F.aggregate(
        F.zip_with("_q", "_cq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.withColumnRenamed("_q", "_cq")
        .withColumnRenamed("_n2", "_cn2")
        .join(q, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(intdot / F.sqrt(F.col("_n2") * F.col("_cn2")), round_digits),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroid_ids: list[int],
    n_probe: int = 4,
) -> DataFrame:
    """IVF + int8 scalar quantization — the FAISS-style IVF-SQ8 shape
    production ANN runs at corpus scale: the coarse quantizer (seeded
    data-point centroids, float cosine) routes vectors into inverted
    lists, while the vectors THEMSELVES are stored int8-quantized (4x
    smaller lists) and the in-list re-rank uses the integer-exact
    quantized cosine (:func:`quantized_topk` — per-vector scales
    cancel). Candidate generation is one equi-join on centroid id; the
    re-rank is linear in probed-list volume. Both halves are value-
    exactly re-derivable in SQL, so the whole composition gets a full
    oracle rather than a recall-only check."""
    seeded = seeded_centroids(emb, id_col, vec_col, centroid_ids)
    if len(seeded) >= KERNEL_CENTROID_THRESHOLD:
        # sqrt(n)-scale quantizers: assignment via the Arrow kernel
        # (constant plan size), then int8 quantization of the carried
        # vector — the rerank below is integer-exact either way.
        c = quantized_vectors(
            _assign_seeded_kernel(emb, id_col, vec_col, seeded, 1, "neighbor_id"),
            "neighbor_id",
            "v",
            "neighbor_id",
            carry=("cid",),
        ).select("neighbor_id", "_q", "_n2", "cid")
        # quantize each query ONCE, then join the kernel's n_probe
        # (query, cid) assignments onto it — quantizing the exploded
        # relation would redo the abs-max/transform/n2 work per probe
        assign_q = _assign_seeded_kernel(
            queries, id_col, vec_col, seeded, n_probe, "query_id"
        ).select("query_id", "cid")
        q = quantized_vectors(queries, id_col, vec_col, "query_id").join(
            assign_q, "query_id"
        ).select(
            "query_id",
            F.col("_q").alias("_qq"),
            F.col("_n2").alias("_qn2"),
            "cid",
        )
    else:
        c = (
            quantized_vectors(
                fan_out(emb), id_col, vec_col, "neighbor_id", keep_vec=True
            )
            .withColumn("_cn", norm(F.col("_v")))
            .select(
                "neighbor_id",
                "_q",
                "_n2",
                _nearest_seeded(F.col("_v"), F.col("_cn"), seeded, 1)[0].alias("cid"),
            )
        )
        q = (
            quantized_vectors(queries, id_col, vec_col, "query_id", keep_vec=True)
            .withColumn("_qn", norm(F.col("_v")))
            .select(
                "query_id",
                F.col("_q").alias("_qq"),
                F.col("_n2").alias("_qn2"),
                F.explode(
                    _nearest_seeded(F.col("_v"), F.col("_qn"), seeded, n_probe)
                ).alias("cid"),
            )
        )
    intdot = F.aggregate(
        F.zip_with("_q", "_qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(intdot / F.sqrt(F.col("_n2") * F.col("_qn2")), 4))
        .select("query_id", "neighbor_id", "cosine")
        # no distinct needed: each corpus vector lives in exactly ONE
        # inverted list, so a (query, neighbor) pair occurs at most once
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (vec . plane_i) >= 0, packed to a long."""
    from lakeapi_spark.operators.scale import lit_array

    bits = []
    for i, plane in enumerate(planes):
        lit_plane = lit_array([float(x) for x in plane], "double")
        dot = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    OR-amplification across ``n_tables`` independent tables of
    ``n_planes`` sign bits each: a corpus vector is a candidate if it
    shares ANY table's signature with the query. For a pair at angle
    theta, per-plane agreement is 1-theta/pi, so candidate probability
    is 1-(1-(1-theta/pi)^h)^L — steep in similarity, which is exactly
    the selectivity/recall dial. Candidates get an exact cosine re-rank.

    Plan shape: one equi-join on (table_id, signature) after exploding
    L signatures per vector (L rows, not a cross product), distinct on
    candidate pairs, then windowed top-k. Recall is property-tested
    against brute_force_topk.
    """
    dim = len(emb.select(vec_col).first()[0])

    def sig_array(vec: Column) -> Column:
        sigs = []
        for t in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
            sigs.append(lsh_signature(vec, planes) + F.lit(t << 32).cast("long"))
        return F.array(*sigs)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
        F.explode(sig_array(F.col(vec_col))).alias("sig"),
    )
    c = fan_out(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
        F.explode(sig_array(F.col(vec_col))).alias("sig"),
    )
    cand = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "qn", "neighbor_id", "cvec", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cosine_parts(dot(F.col("qvec"), F.col("cvec")), F.col("qn"), F.col("cn"))
    scored = cand.withColumn("cosine", F.round(sim, 4)).select(
        "query_id", "neighbor_id", "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_fit_centroids(
    emb: DataFrame,
    vec_col: str,
    n_centroids: int,
    sample_rows: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means on a bounded driver
    sample (``sample_rows`` caps driver memory regardless of corpus
    size; at 100 TB you fit on a sample, never the corpus). Init is
    seeded; Lloyd iterations are fixed-count — same inputs, same
    centroids, every run. Returns (n_centroids, dim) float64."""
    sample = np.array(
        [r[0] for r in emb.select(vec_col).limit(sample_rows).collect()], dtype=np.float64
    )
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        # cosine assignment: normalize then argmax dot
        sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(sn @ cn.T, axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _nearest_centroids(vec: Column, centroids: np.ndarray, n: int) -> Column:
    """Array of the ``n`` nearest centroid ids by cosine (ties by id).
    Centroids are shipped as literals — tiny (n_centroids x dim doubles)
    and deterministic on every executor."""
    from lakeapi_spark.operators.scale import lit_array

    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    scored = F.array(
        *[
            F.struct(
                (-dot(vec, lit_array([float(x) for x in c], "double"))).alias("negdot"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(cn)
        ]
    )
    return F.transform(F.slice(F.array_sort(scored), 1, n), lambda s: s["cid"])


def seeded_centroids(
    emb: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]
) -> list[tuple[list[float], float]]:
    """Coarse quantizer from FIXED data points: centroid cid = the
    cid-th embedding row (by id order) among ``centroid_ids`` — k-means
    init with zero Lloyd iterations. Bounded driver collect
    (len(centroid_ids) rows). Norms are computed with a SEQUENTIAL
    Python sum so they bit-match both Spark's aggregate fold and a SQL
    oracle's SUM over unnested elements — this quantizer exists so IVF
    can be verified value-exactly cross-engine."""
    rows = (
        emb.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    by_id = {r[0]: [float(x) for x in r[1]] for r in rows}
    out = []
    for vid in sorted(by_id):
        v = by_id[vid]
        s = 0.0
        for x in v:
            s += x * x
        out.append((v, math.sqrt(s)))
    return out


def _nearest_seeded(
    vec: Column, vnorm: Column, cents: list[tuple[list[float], float]], n: int
) -> Column:
    """Array of the ``n`` nearest seeded-centroid cids by ROUNDED cosine
    (ties by cid): rounding to 4 digits before ranking makes the
    assignment robust to last-ULP float-sum differences across engines,
    so an oracle re-derives identical inverted lists."""
    from lakeapi_spark.operators.scale import lit_array

    scored = F.array(
        *[
            F.struct(
                (-F.round(
                    dot(vec, lit_array([float(x) for x in c], "double"))
                    / (vnorm * F.lit(cn)),
                    4,
                )).alias("negcos"),
                F.lit(i).alias("cid"),
            )
            for i, (c, cn) in enumerate(cents)
        ]
    )
    return F.transform(F.slice(F.array_sort(scored), 1, n), lambda s: s["cid"])


#: Above this centroid count the literal-expression assignment
#: (`_nearest_seeded` / `_nearest_centroids`) would emit
#: O(n_centroids x dim) plan literals — past Catalyst/codegen size
#: limits at SemDeDup's sqrt(n) auto-scaled counts — so assignment
#: switches to the Arrow numpy kernel (one BLAS matmul per batch,
#: constant plan size). Below it, the expression path stays: it keeps
#: the whole probe inside codegen with no Python worker round-trip.
KERNEL_CENTROID_THRESHOLD = 128


def _assign_seeded_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[tuple[list[float], float]],
    n_probe: int,
    out_id: str = "id",
) -> DataFrame:
    """Arrow-batched twin of `_nearest_seeded` assignment (same parity
    rules as dedup's `_semantic_assignments_kernel`): cid ranking by
    ROUND(dot/(nrm*cnorm), 4) descending, ties to the LOWER cid —
    numpy's stable argsort first-occurrence rule IS the expression
    path's (negcos, cid) sort order. Centroid matrix + norms are
    closure-captured (tiny, deterministic on every executor); plan size
    is CONSTANT in n_centroids. Returns (out_id, cid, nrm, v) with one
    row per (row, probed cid)."""
    cmat = np.array([c for c, _ in cents], dtype=np.float64)
    cnorms = np.array([cn for _, cn in cents], dtype=np.float64)
    vec_type = df.schema[vec_col].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            score = np.round((V @ cmat.T) / np.outer(nrm, cnorms), 4)
            if n_probe == 1:
                yield pd.DataFrame(
                    {
                        out_id: pdf[id_col].to_numpy(),
                        "cid": score.argmax(axis=1).astype("int32"),
                        "nrm": nrm,
                        "v": pdf[vec_col],
                    }
                )
                continue
            top = np.argsort(-score, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "cid": top.reshape(-1).astype("int32"),
                    "nrm": np.repeat(nrm, n_probe),
                    "v": pdf[vec_col].repeat(n_probe).reset_index(drop=True),
                }
            )

    return fan_out(df.select(id_col, vec_col)).mapInPandas(
        kernel, schema=f"{out_id} long, cid int, nrm double, v {vec_type}"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the classic scale path:

    1. fit a small coarse quantizer (driver-side k-means on a bounded
       sample, deterministic);
    2. assign every corpus vector to its nearest centroid (one codegen
       pass, no shuffle) — this is the "inverted list" id;
    3. each query probes its ``n_probe`` nearest centroids; candidates
       are fetched with ONE equi-join on centroid id (corpus side
       shuffles by a 16-value key at most — at scale the inverted
       lists would be the storage partitioning, making this a pruned
       scan instead of a join);
    4. exact cosine re-rank within candidates (windowed top-k).

    Recall rises with n_probe (n_probe = n_centroids degrades to brute
    force). Property-tested against brute_force_topk.

    With ``centroid_ids`` the quantizer switches to fixed data-point
    centroids ranked by rounded cosine (:func:`seeded_centroids`) —
    same plan shape, but every stage is value-exactly re-derivable by a
    SQL oracle (the k-means path's Lloyd iterations are not
    SQL-expressible)."""
    if centroid_ids is not None and len(centroid_ids) >= KERNEL_CENTROID_THRESHOLD:
        seeded = seeded_centroids(emb, id_col, vec_col, centroid_ids)
        c = _assign_seeded_kernel(emb, id_col, vec_col, seeded, 1, "neighbor_id").select(
            "neighbor_id", F.col("v").alias("cvec"), F.col("nrm").alias("cn"), "cid"
        )
        q = _assign_seeded_kernel(
            queries, id_col, vec_col, seeded, n_probe, "query_id"
        ).select("query_id", F.col("v").alias("qvec"), F.col("nrm").alias("qn"), "cid")
    else:
        if centroid_ids is not None:
            seeded = seeded_centroids(emb, id_col, vec_col, centroid_ids)

            def near(vec_name: str, norm_name: str, n: int) -> Column:
                return _nearest_seeded(F.col(vec_name), F.col(norm_name), seeded, n)

        else:
            cents = ivf_fit_centroids(emb, vec_col, n_centroids, seed=seed)

            def near(vec_name: str, norm_name: str, n: int) -> Column:
                return _nearest_centroids(F.col(vec_name), cents, n)

        c = fan_out(emb).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            norm(F.col(vec_col)).alias("cn"),
        ).select("neighbor_id", "cvec", "cn", near("cvec", "cn", 1)[0].alias("cid"))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("qn"),
        ).select(
            "query_id", "qvec", "qn", F.explode(near("qvec", "qn", n_probe)).alias("cid")
        )
    sim = cosine_parts(dot(F.col("qvec"), F.col("cvec")), F.col("qn"), F.col("cn"))
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(sim, 4))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def numpy_topk(
    emb: DataFrame,
    query_vecs: dict[int, list[float]],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Arrow-vectorized brute force: queries broadcast as a numpy matrix,
    one matmul per Arrow batch via mapInPandas, per-partition top-k,
    then a global top-k re-reduce. The kernel is BLAS; Python cost is
    per-batch, not per-row."""
    qids = sorted(query_vecs)
    qmat = np.array([query_vecs[i] for i in qids], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ qmat.T) / np.outer(cnorm, qnorm)  # (batch, nq)
            out = []
            ids = pdf[id_col].to_numpy()
            for qi, qid in enumerate(qids):
                col = sims[:, qi]
                mask = ids != qid
                take = min(k, int(mask.sum()))
                idx = np.argsort(-col[mask])[:take]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[mask][idx],
                            "cosine": np.round(col[mask][idx], 4),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = fan_out(emb.select(id_col, vec_col)).mapInPandas(
        kernel, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Persisted IVF index (the ANN analogue of search.py's BM25 index)
# ---------------------------------------------------------------------------
#
# ``ivf_topk`` re-assigns every corpus vector to its centroid on EVERY
# query — one full codegen pass over the embeddings per request. The
# index below pays that pass once per table version: the inverted lists
# (cid, id, v, nrm) are built once and cached / written as parquet laid
# out BY LIST, so a query's n_probe centroid filter becomes a pruned
# scan — at 100 TB the lists are the storage partitioning and a probe
# touches n_probe/n_centroids of the corpus.

from dataclasses import dataclass


@dataclass
class IvfIndex:
    lists: DataFrame  # (cid, id, v, nrm) — the inverted lists
    cents: list[tuple[list[float], float]]  # seeded (vector, norm) rows

    def unpersist(self) -> None:
        try:
            self.lists.unpersist()
        except Exception:  # noqa: BLE001 - already-unpersisted is fine
            pass


def assign_to_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[tuple[list[float], float]],
) -> DataFrame:
    """(id, v, nrm, cid) rows assigning each embedding to its nearest
    centroid by the rounded-cosine rule — the inverted-list relation.
    Expression path under KERNEL_CENTROID_THRESHOLD (whole probe stays
    in codegen), Arrow kernel above it (constant plan size). Shared by
    the one-shot index build and the change-feed refresh, which must
    assign identically against FROZEN centroids."""
    if len(cents) >= KERNEL_CENTROID_THRESHOLD:
        return _assign_seeded_kernel(emb, id_col, vec_col, cents, 1).select(
            "id", "v", "nrm", "cid"
        )
    return (
        fan_out(emb)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"),
        )
        .select(
            "id", "v", "nrm",
            _nearest_seeded(F.col("v"), F.col("nrm"), cents, 1)[0].alias("cid"),
        )
    )


def build_ivf_index(
    emb: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]
) -> IvfIndex:
    """One corpus pass -> cached inverted lists, keyed by the SEEDED
    quantizer (value-exactly re-derivable by a SQL oracle, like every
    IVF query here). ``repartition(cid)`` gives the lists the hash
    partitioning the query-time candidate join wants."""
    cents = seeded_centroids(emb, id_col, vec_col, centroid_ids)
    lists = assign_to_centroids(emb, id_col, vec_col, cents).repartition(
        "cid"
    ).persist()
    return IvfIndex(lists, cents)


def ivf_topk_indexed(
    index: IvfIndex,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """Drop-in for :func:`ivf_topk` given a prebuilt index — IDENTICAL
    results (same quantizer, same rounded cosine, same tiebreaks), but
    the corpus-side assignment pass is gone: queries probe their
    ``n_probe`` lists, candidates come from one equi-join against the
    cached lists, exact re-rank within candidates."""
    if len(index.cents) >= KERNEL_CENTROID_THRESHOLD:
        q = _assign_seeded_kernel(
            queries, id_col, vec_col, index.cents, n_probe, "query_id"
        ).select("query_id", F.col("v").alias("qvec"), F.col("nrm").alias("qn"), "cid")
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("qn"),
        ).select(
            "query_id", "qvec", "qn",
            F.explode(
                _nearest_seeded(F.col("qvec"), F.col("qn"), index.cents, n_probe)
            ).alias("cid"),
        )
    sim = cosine_parts(dot(F.col("qvec"), F.col("v")), F.col("qn"), F.col("nrm"))
    scored = (
        index.lists.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("id"))
        .withColumn("cosine", F.round(sim, 4))
        .select("query_id", F.col("id").alias("neighbor_id"), "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


#: (identity, version) -> IvfIndex; version = table modified date, the
#: same per-table-version contract as the BM25 index cache
_IVF_CACHE: dict[tuple, IvfIndex] = {}


def ivf_index_for(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    key: tuple,
) -> IvfIndex:
    """Memoized per-table-version index (artifacts.versioned_artifact:
    a new version of the same identity evicts + unpersists the stale
    build)."""
    from lakeapi_spark.artifacts import versioned_artifact

    identity, version = key
    return versioned_artifact(
        _IVF_CACHE,
        identity,
        version,
        (id_col, vec_col, tuple(centroid_ids)),
        lambda: build_ivf_index(emb, id_col, vec_col, centroid_ids),
        lambda idx: idx.unpersist(),
    )


def save_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist the index as parquet — the 100 TB deployment shape: the
    inverted lists are range-partitioned + sorted by cid, so a query's
    ``cid IN (...)`` probe prunes row groups (and, partitioned by cid
    at write time, whole files) via min/max stats; the centroid table
    is a tiny sidecar."""
    (
        index.lists.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid")
        .write.mode("overwrite")
        .parquet(f"{path}/lists")
    )
    spark = index.lists.sparkSession
    spark.createDataFrame(
        [(i, c, n) for i, (c, n) in enumerate(index.cents)],
        "cid int, centroid array<double>, cnorm double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    codebook_ids: list[int],
    m_subspaces: int = 8,
) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half, after
    Jégou et al. 2011): vectors are split into ``m_subspaces``
    subvectors, each encoded as the index of its nearest codeword, and
    query-to-corpus distance is approximated by the asymmetric distance
    computation (ADC) — a table lookup + sum instead of a full
    D-dimensional scan. At 100 TB this is THE memory format: a
    64-float vector becomes m bytes, the codes relation is ~32x
    smaller than the corpus, and the scan is bandwidth-bound on codes
    while the LUT (n_queries x m x K ints) rides the closure.

    Engineered for cross-engine exactness, the house discipline:
    elements are quantized JVM-side to ROUND(x*1000) int64 FIRST, so
    every later quantity (subdistances, codes, ADC scores) is INTEGER
    arithmetic — identical in any engine under any summation order, no
    float-tie risk anywhere. The codebook is seeded from FIXED data
    rows (``codebook_ids``, K = len, kidx by ascending id — same
    convention as seeded_centroids); code ties go to the lower kidx
    (numpy argmin first-occurrence). Returns (query_id, neighbor_id,
    adist, rank), rank 1..k ascending by (adist, neighbor_id), self
    excluded. Exactness tested against a DuckDB oracle; recall
    property-tested against brute force."""
    def quantized(df: DataFrame) -> DataFrame:
        # normalize-then-quantize: over unit vectors, L2 rank == cosine
        # rank, so ADC approximates the same metric every other ANN op
        # here serves. The norm reuses the SUM-over-elements spelling
        # already hash-green in the brute-force oracles, staged in its
        # own projection with the when() double-reference blocker so
        # CollapseProject cannot inline the 64-element aggregate into
        # every element of the transform (the measured 27x hazard).
        v = F.col(vec_col)
        staged = df.select(
            F.col(id_col).alias("id"),
            v.alias("_v"),
            F.when(norm(v) >= 0, norm(v)).alias("_nrm"),
        )
        return staged.select(
            "id",
            F.transform(
                F.col("_v"),
                lambda x: F.round(
                    x.cast("double") * 1000 / F.col("_nrm"), 0
                ).cast("long"),
            ).alias("vq"),
        )

    eq = quantized(fan_out(emb))
    cb_rows = sorted(
        eq.filter(F.col("id").isin(list(codebook_ids))).collect(),
        key=lambda r: r["id"],
    )
    if len(cb_rows) != len(codebook_ids):
        raise ValueError("some codebook_ids missing from the corpus")
    # dim comes off the collected codebook — no separate probe job
    dim = len(cb_rows[0]["vq"])
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    # (M, K, sub) int64 codeword tensor — tiny, ships in the closure
    cb = (
        np.array([r["vq"] for r in cb_rows], dtype=np.int64)
        .reshape(len(cb_rows), m_subspaces, sub)
        .transpose(1, 0, 2)
        .copy()
    )
    q_rows = quantized(queries).collect()
    qids = np.array(sorted(r["id"] for r in q_rows), dtype=np.int64)
    qmat = np.array(
        [r["vq"] for r in sorted(q_rows, key=lambda r: r["id"])], dtype=np.int64
    ).reshape(len(q_rows), m_subspaces, sub)
    # LUT[q, m, k] = integer subdistance query-subvector -> codeword
    lut = ((qmat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vq"].tolist(), dtype=np.int64).reshape(
                len(pdf), m_subspaces, sub
            )
            # (batch, M): nearest codeword per subspace, ties -> lower k
            d = ((V[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
            codes = d.argmin(axis=2)
            # ADC: (nq, batch) int scores via LUT gather
            adist = lut[:, np.arange(m_subspaces)[None, :], codes].sum(axis=2)
            ids = pdf["id"].to_numpy()
            nq = len(qids)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(ids)),
                    "neighbor_id": np.tile(ids, nq),
                    "adist": adist.reshape(-1),
                }
            )

    scored = eq.mapInPandas(
        kernel, schema="query_id long, neighbor_id long, adist long"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Read a saved index back: lists stay a (pruned-scan-able) parquet
    relation; centroids collect driver-side (n_centroids rows)."""
    lists = spark.read.parquet(f"{path}/lists")
    cents_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = [
        ([float(x) for x in r["centroid"]], float(r["cnorm"]))
        for r in sorted(cents_rows, key=lambda r: r["cid"])
    ]
    return IvfIndex(lists, cents)


def kmeans_lloyd_step(
    emb: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]
) -> DataFrame:
    """One distributed Lloyd iteration of k-means from a seeded
    data-point init: assign every vector to its nearest seeded centroid
    (rounded cosine, ties to the lower cid — the oracle-proven
    quantizer shared with the IVF family), then recompute per-cluster
    per-dimension centroid components as (exact decimal SUM, member
    count) in long form. The caller divides sum/count; emitting the
    pair instead of a rounded AVG keeps the result value-identical in
    any engine (same discipline as queries.label_centroids).

    Scale shape: the assignment is one narrow codegen pass (or one
    Arrow kernel pass above KERNEL_CENTROID_THRESHOLD — constant plan
    size at sqrt(n) centroid counts); posexplode multiplies rows by
    dim, but groupBy(cid, pos) partial-aggregates map-side so the one
    shuffle carries K x dim rows, not n x dim. Iterating = feeding the
    recomputed centroids back through :func:`_assign_seeded_kernel`
    (driver holds only K x dim doubles between rounds)."""
    cents = seeded_centroids(emb, id_col, vec_col, centroid_ids)
    if len(cents) >= KERNEL_CENTROID_THRESHOLD:
        assigned = _assign_seeded_kernel(emb, id_col, vec_col, cents, 1).select(
            "cid", "v"
        )
    else:
        assigned = (
            fan_out(emb)
            .select(
                F.col(vec_col).alias("v"),
                norm(F.col(vec_col)).alias("nrm"),
            )
            .select("v", _nearest_seeded(F.col("v"), F.col("nrm"), cents, 1)[0].alias("cid"))
        )
    ex = assigned.select("cid", F.posexplode("v").alias("pos", "val"))
    return ex.groupBy("cid", "pos").agg(
        F.round(F.sum(F.col("val").cast("double").cast("decimal(18,7)")), 4)
        .cast("double")
        .alias("centroid_sum"),
        F.count(F.lit(1)).alias("n_members"),
    )


def kmeans_transition_matrix(
    emb: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]
) -> DataFrame:
    """TWO Lloyd iterations, fully distributed, reported as the
    assignment-transition matrix (cid_from, cid_to, n_vecs) — the
    convergence diagnostic a k-means training loop watches (diagonal
    mass = stable points, off-diagonal = still moving).

    Iteration 1 assigns to the seeded data-point centroids (rounded
    cosine, the IVF-family quantizer); the recomputed centroids stay a
    RELATION (cid, pos, component) — never collected — and iteration 2
    scores vectors against them with a pos-equi-join + decimal-summed
    dot products, so every arithmetic step is order-independent and a
    SQL oracle re-derives the matrix exactly. (A production many-round
    loop would collect the K x dim centroid table into the Arrow
    assignment kernel instead — `_assign_seeded_kernel` — trading
    oracle-exactness for a matmul; both shapes keep only K x dim state
    between rounds.)

    Scale shape: one corpus pass per iteration; the iteration-2 join
    explodes to n x dim x K scored terms before its partial-aggregated
    groupBy — the same FLOP count as the dense matmul the kernel path
    runs, expressed relationally. Centroid relations are K x dim rows,
    always the broadcast side."""
    cents = seeded_centroids(emb, id_col, vec_col, centroid_ids)
    if len(cents) >= KERNEL_CENTROID_THRESHOLD:
        a1 = _assign_seeded_kernel(emb, id_col, vec_col, cents, 1).select(
            "id", "v", "nrm", F.col("cid").alias("cid_from")
        )
    else:
        staged = fan_out(emb).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).select("id", "v", norm(F.col("v")).alias("nrm"))
        a1 = staged.select(
            "id", "v", "nrm",
            _nearest_seeded(F.col("v"), F.col("nrm"), cents, 1)[0].alias("cid_from"),
        )
    ex = a1.select(
        "id", "cid_from", "nrm", F.posexplode("v").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent2 = (
        ex.groupBy(F.col("cid_from").alias("cid"), "pos")
        .agg(
            F.round(F.sum(F.col("val").cast("decimal(18,7)")), 4)
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("cid", "pos", F.round(F.col("s") / F.col("n"), 6).alias("c2"))
    )
    cnorm = cent2.groupBy("cid").agg(
        F.sqrt(
            F.sum((F.col("c2") * F.col("c2")).cast("decimal(28,14)")).cast("double")
        ).alias("cnrm")
    )
    dots = (
        ex.join(F.broadcast(cent2), "pos")
        .groupBy("id", "cid_from", "nrm", "cid")
        .agg(
            F.sum((F.col("val") * F.col("c2")).cast("decimal(28,14)"))
            .cast("double")
            .alias("dot")
        )
    )
    scored = dots.join(F.broadcast(cnorm), "cid").withColumn(
        "cos", F.round(F.col("dot") / (F.col("nrm") * F.col("cnrm")), 4)
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("cid"))
    a2 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        a2.groupBy("cid_from", F.col("cid").alias("cid_to"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def pca_top_component(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 5,
    scale: int = 1_000_000,
    cache_handles: list | None = None,
) -> DataFrame:
    """Top principal component of an embedding column by RELATIONAL
    power iteration — the first step of every embedding diagnostic
    (anisotropy check, dominant-direction removal a la all-but-the-top,
    Mu & Viswanath 2018, public): mean-center in integer micro-units,
    build the d x d covariance as a RELATION (dim j, dim k, c), then
    iterate x <- L1-normalize(C x) exactly like
    graph.eigenvector_centrality iterates its adjacency — no driver
    linear algebra, no collect. Returns (dim, loading_fp, loading),
    dim 1-based, loadings L1-normalized in ``scale``-ths.

    EXACT-replay contract: x_fp = round(x * 1e6); mean, covariance
    (c = scatter-sum DIV (n * 1e6), micro-units), matvec
    (DIV 1e6) and L1 normalization (y * 1e6 DIV sum|y|) are all int64
    toward-zero — bit-replayable by an unrolled SQL oracle. A
    degenerate covariance (all-zero — constant vectors) yields NULL
    loadings rather than a division error.

    Scale shape: the covariance build is the expensive step — a
    vec_id-keyed self-join fanning each row to d^2 products (d = 64:
    4096/row) feeding ONE partial-agg shuffle of d^2 groups; beyond
    d ~ a few hundred, sample rows before calling (the estimate
    converges at modest n). Iterations touch only the d^2 relation
    with the d-row x broadcast; int64 stays safe while
    n * scale^2 * d stays under 2^63 (documented: ~1e5 rows of unit
    floats at d = 64 uses < 1e15)."""
    cen, n = _centered_relation(emb, id_col, vec_col, scale)
    cov = _cov_of_centered(cen, n, scale)
    if cache_handles is not None:
        # long-lived callers reuse the persisted covariance across
        # requests and release it themselves (the
        # eigenvector_centrality release contract)
        cov = cov.persist()
        cache_handles.append(cov)
    else:
        # one-shot callers: materialize the tiny d^2-row relation NOW
        # (one extra job) so no session-cache entry outlives the call —
        # localCheckpoint blocks are GC-managed, persist() is not
        cov = cov.localCheckpoint(eager=True)
    x = _power_direction(cov, iters, scale)
    return x.select(
        F.col("j").cast("long").alias("dim"),
        F.col("x").alias("loading_fp"),
        (F.round(F.col("x").cast("double") / scale, 6) + 0.0).alias("loading"),
    )


def _centered_relation(
    emb: DataFrame, id_col: str, vec_col: str, scale: int
) -> tuple[DataFrame, int]:
    """(vec, dim 1-based, integer-centered value) relation + row count
    — the shared first step of the PCA family. Exact contract: xf =
    round(x * scale) as int64, mean = SUM(xf) DIV n (toward zero),
    v = xf - mean."""
    ex = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_p", "_x"),
    ).select(
        "_id",
        (F.col("_p") + 1).alias("j"),
        F.round(F.col("_x").cast("double") * scale, 0).cast("long").alias("xf"),
    )
    n = ex.select("_id").distinct().count()  # one job; d*n relation is cheap
    m = ex.groupBy("j").agg(F.expr(f"SUM(xf) DIV {n}").alias("mf"))
    cen = ex.join(F.broadcast(m), "j").select(
        "_id", "j", (F.col("xf") - F.col("mf")).alias("v")
    )
    return cen, n


def _cov_of_centered(cen: DataFrame, n: int, scale: int) -> DataFrame:
    """d x d covariance RELATION (j, k, c) from a centered relation:
    one vec_id self-join fanning to d^2 products, one partial-agg
    shuffle of d^2 groups; c = scatter-sum DIV (n * scale)."""
    cb = cen.select("_id", F.col("j").alias("k"), F.col("v").alias("vk"))
    return (
        cen.join(cb, "_id")
        .groupBy("j", "k")
        .agg(F.expr(f"SUM(v * vk) DIV ({n} * {scale})").alias("c"))
    )


def _unit_direction(x: DataFrame, scale: int) -> DataFrame:
    """L2-renormalize a power-iteration result (j, x) to a broadcast
    unit direction (j, wx) in scale-ths. floor(sqrt(.)) over an int64
    sum of squares: IEEE sqrt is correctly rounded, so both engines
    produce the identical integer norm (the embedding_anisotropy
    contract)."""
    l2 = F.broadcast(
        x.agg(
            F.floor(F.sqrt(F.sum(F.col("x") * F.col("x")).cast("double")))
            .cast("long")
            .alias("l")
        )
    )
    return F.broadcast(
        x.crossJoin(l2).select(
            "j",
            F.expr(f"CAST(x * {scale} DIV NULLIF(l, 0) AS LONG)").alias("wx"),
        )
    )


def abtt_corrected_anisotropy(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """All-but-the-top CORRECTION with a before/after anisotropy
    readout (Mu & Viswanath 2018, public): find the top principal
    direction w, subtract each vector's projection (v' = v - (v.w)w),
    then run a SECOND power iteration on the corrected relation to
    measure how much top-direction variance remains. One row:

      (n_vecs, total_ss, top_ss, before_ratio, after_ss,
       top_ss_residual, after_ratio)

    A dominant common direction shows before_ratio >> 1/d and
    after_ratio back near the isotropic floor — the dial that says the
    correction worked (and the pre-condition check before trusting
    cosine retrieval). EXACT integer contract end-to-end: projection
    p = SUM(v * wx) DIV scale per vector, corrected component
    v' = v - ((p * wx) DIV scale), every sum-of-squares an int64 —
    the unrolled two-block oracle replays it bit-for-bit.

    Scale shape: two covariance builds (each ONE vec_id self-join ->
    d^2-group partial agg) + 2*iters broadcast matvecs + three
    co-keyed joins on vec_id; the centered and corrected relations are
    localCheckpoint-materialized (one-shot cache hygiene, ADVICE r12)
    so each feeds its two consumers without recompute. Nothing
    driver-side but the bounded count."""
    cen, n = _centered_relation(emb, id_col, vec_col, scale)
    cen = cen.localCheckpoint(eager=True)
    cov = _cov_of_centered(cen, n, scale).localCheckpoint(eager=True)
    w1 = _unit_direction(_power_direction(cov, iters, scale), scale)
    p = (
        cen.join(w1, "j")
        .groupBy("_id")
        .agg(F.expr(f"SUM(v * wx) DIV {scale}").cast("long").alias("p"))
    )
    cen2 = (
        cen.join(p, "_id")
        .join(w1, "j")
        .select("_id", "j", F.expr(f"v - ((p * wx) DIV {scale})").alias("v"))
        .localCheckpoint(eager=True)
    )
    cov2 = _cov_of_centered(cen2, n, scale).localCheckpoint(eager=True)
    w2 = _unit_direction(_power_direction(cov2, iters, scale), scale)
    p2 = (
        cen2.join(w2, "j")
        .groupBy("_id")
        .agg(F.expr(f"SUM(v * wx) DIV {scale}").cast("long").alias("p"))
    )
    tot = cen.agg(
        F.countDistinct("_id").cast("long").alias("n_vecs"),
        F.sum(F.col("v") * F.col("v")).alias("total_ss"),
    )
    top = p.agg(F.sum(F.col("p") * F.col("p")).alias("top_ss"))
    aft = cen2.agg(F.sum(F.col("v") * F.col("v")).alias("after_ss"))
    topr = p2.agg(F.sum(F.col("p") * F.col("p")).alias("top_ss_residual"))
    return (
        tot.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(aft))
        .crossJoin(F.broadcast(topr))
        .select(
            "n_vecs",
            "total_ss",
            "top_ss",
            (
                F.round(
                    F.col("top_ss").cast("double")
                    / F.col("total_ss").cast("double"),
                    6,
                )
                + 0.0
            ).alias("before_ratio"),
            "after_ss",
            "top_ss_residual",
            (
                F.round(
                    F.col("top_ss_residual").cast("double")
                    / F.col("after_ss").cast("double"),
                    6,
                )
                + 0.0
            ).alias("after_ratio"),
        )
    )


def _trunc_div(a: int, b: int):
    """SQL ``DIV`` twin: int64 division truncating TOWARD ZERO (Python's
    ``//`` floors, which differs on negative operands)."""
    if b == 0:
        return None
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _power_iterate_cov_local(rows, iters: int, scale: int):
    """Driver-side exact-int64 twin of :func:`_power_iterate_cov` over
    the COLLECTED (j, k, c) covariance rows — K-bounded by contract
    (d^2 rows). The relational formulation pays 2 broadcast
    materializations of scheduler latency PER ROUND (10-20 AQE stage
    jobs for the standard iters=5), which dominated the registry sweep
    (embedding_abtt_corrected: 15.4 s at sf0.01, nearly all driver/
    scheduler). Python ints are exact, DIV is replicated toward-zero,
    and int64 sums are order-free, so the returned loadings are
    bit-identical to the relational rounds — asserted by the existing
    planted-direction/known-axis unit tests and the unrolled SQL
    oracles. Returns [(j, x_j)] sorted by j, or None when any value
    degenerates to NULL (all-zero covariance) — callers then fall back
    to the relational path, which reproduces engine NULL semantics
    exactly."""
    keys = sorted({r[0] for r in rows})
    by_j: dict = {}
    for j, k, c in rows:
        by_j.setdefault(j, []).append((k, c))
    x = {j: scale for j in keys}
    for _ in range(iters):
        y = {}
        for j in keys:
            s, seen = 0, False
            for k, c in by_j.get(j, ()):  # SUM(c*x) ignores NULL terms
                xv = x.get(k)
                if xv is None or c is None:
                    continue
                s += c * xv
                seen = True
            y[j] = _trunc_div(s, scale) if seen else None
        nn = [v for v in y.values() if v is not None]
        l1 = sum(abs(v) for v in nn) if nn else None  # SUM over all-NULL is NULL
        x = {
            j: (
                None
                if y[j] is None or l1 is None
                else _trunc_div(y[j] * scale, l1)  # y*scale DIV NULLIF(l,0)
            )
            for j in keys
        }
    if any(v is None for v in x.values()):
        return None
    return [(j, x[j]) for j in keys]


def _power_direction(cov: DataFrame, iters: int, scale: int) -> DataFrame:
    """Power-iteration result (j, x) as a DataFrame: collect the
    K-bounded covariance, iterate driver-side
    (:func:`_power_iterate_cov_local`), ship the d-row result back as
    an Arrow local relation; degenerate (NULL-producing) inputs fall
    back to the relational rounds so engine NULL semantics are
    preserved bit-for-bit."""
    from lakeapi_spark.operators.scale import local_df

    rows = [(int(r[0]), int(r[1]), None if r[2] is None else int(r[2])) for r in cov.collect()]
    res = _power_iterate_cov_local(rows, iters, scale) if rows else None
    if res is None:
        return _power_iterate_cov(cov, iters, scale)
    return local_df(cov.sparkSession, res, ["j", "x"], "j int, x bigint")


def _power_iterate_cov(cov: DataFrame, iters: int, scale: int) -> DataFrame:
    """The matvec + L1-normalize rounds of the relational power
    iteration, factored so the all-but-the-top residual pass reuses the
    EXACT expressions (bit-replayable toward-zero int64): x_0 = scale
    on every dim, y = (C x) DIV scale, x = y*scale DIV sum|y|. Returns
    (j, x)."""
    x = cov.select("j").distinct().withColumn("x", F.lit(scale).cast("long"))
    for _ in range(iters):
        y = (
            cov.join(F.broadcast(x.withColumnRenamed("j", "k")), "k")
            .groupBy("j")
            .agg(F.expr(f"SUM(c * x) DIV {scale}").alias("y"))
        )
        l1 = F.broadcast(y.agg(F.sum(F.abs(F.col("y"))).alias("l")))
        x = y.crossJoin(l1).select(
            "j",
            F.expr(f"CAST(y * {scale} DIV NULLIF(l, 0) AS LONG)").alias("x"),
        )
    return x


def random_projection(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC
    sign matrix: proj_j = (1/sqrt(out_dim)) * sum_i v_i * sign(h(j,i)),
    where the Rademacher sign is the parity of the portable 60-bit md5
    hash — so any engine re-derives the exact projection (Achlioptas
    2003: +-1 entries satisfy the JL lemma; no Gaussian sampling
    needed). The dimension-reduced vectors feed LSH/clustering at a
    fraction of the IO.

    Returns (id, j, val) exploded rows with val decimal-summed then
    rounded(6) — the engine-exact float discipline used everywhere.

    Scale shape: pure expressions, ONE shuffle (the (id, j) partial
    aggregation); volume is n * dim * out_dim rows before map-side
    combine, bounded by keeping out_dim small (its whole purpose). A
    BLAS batch kernel is the drop-in upgrade for hot paths (same
    contract as _assign_seeded_kernel); the expression form IS the
    oracle-exact reference."""
    from lakeapi_spark.operators.scale import fan_out as _fan_out
    from lakeapi_spark.operators.text import portable_hash60 as _h60

    inv = 1.0 / (out_dim ** 0.5)
    ex = _fan_out(emb).select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("i", "v")
    )
    ex2 = ex.select(
        "id",
        "i",
        F.col("v").cast("double").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j"),
    )
    sign = F.when(
        _h60(
            F.concat(
                F.lit(f"rp{seed}:"),
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("i").cast("string"),
            )
        )
        % 2
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    term = (F.col("v") * sign * F.lit(inv)).cast("decimal(28,10)")
    return (
        ex2.groupBy("id", "j")
        .agg((F.round(F.sum(term).cast("double"), 6) + F.lit(0.0)).alias("val"))
    )


def mmr_select(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    n_candidates: int = 20,
    k: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998): greedily pick k of the n_candidates nearest neighbors of
    one query, each pick maximizing
    0.5 * relevance - 0.5 * max_similarity_to_already_picked — the
    dedup-aware retrieval step RAG pipelines run after ANN. Returns
    (rank, vec_id, relevance, mmr_score); rank 1 is the pure-relevance
    pick.

    Split by what distributes: candidate generation is the standard
    brute-force top-n scan (corpus-parallel) and the candidate
    pairwise similarity matrix is an n x n broadcast join — both
    Spark-side. The greedy argmax chain is inherently sequential with
    a k-deep dependency, so it runs on the DRIVER over the collected
    ROUNDED matrix (n + n^2 rows, bounded by construction — the same
    bounded-driver-state contract as IVF centroid fitting). Lambda is
    fixed at 1/2 so each score is one halving + one subtraction over
    already-rounded cosines: any engine replays the identical IEEE
    sequence, ties break to the lower id."""
    q = emb.filter(F.col(id_col) == query_id)
    cand = brute_force_topk(
        emb, q, id_col, vec_col, k=n_candidates, round_digits=round_digits
    ).select(F.col("neighbor_id").alias("cid"), F.col("cosine").alias("rel"))
    ce = emb.join(
        F.broadcast(cand), F.col(id_col) == F.col("cid")
    ).select("cid", F.col(vec_col).alias("v"), norm(F.col(vec_col)).alias("nm"))
    a = ce.select(
        F.col("cid").alias("ia"), F.col("v").alias("va"), F.col("nm").alias("na")
    )
    b = ce.select(
        F.col("cid").alias("ib"), F.col("v").alias("vb"), F.col("nm").alias("nb")
    )
    pair = a.join(F.broadcast(b), F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.round(
            cosine_parts(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")),
            round_digits,
        ).alias("s"),
    )
    rels = {int(r.cid): float(r.rel) for r in cand.collect()}
    sims = {(int(r.ia), int(r.ib)): float(r.s) for r in pair.collect()}
    picked: list[int] = []
    rows = []
    for rank in range(1, min(k, len(rels)) + 1):
        best_id, best_key = None, None
        for cid, rel in rels.items():
            if cid in picked:
                continue
            if not picked:
                score = rel
            else:
                score = 0.5 * rel - 0.5 * max(sims[(cid, p)] for p in picked)
            key = (score, -cid)
            if best_key is None or key > best_key:
                best_id, best_key = cid, key
        picked.append(best_id)
        rows.append(
            (rank, best_id, rels[best_id] + 0.0, best_key[0] + 0.0)
        )
    return emb.sparkSession.createDataFrame(
        rows, "rank long, vec_id long, relevance double, mmr_score double"
    )
