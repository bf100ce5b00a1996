"""Vector similarity search over the ``embeddings`` table (SURVEY.md §2.4).

- ``q_sim_topk``   : exact brute-force cosine top-k for a query set —
  the correctness baseline. Query vectors are broadcast; the scan side
  streams once; per-query top-k via window. DuckDB-oracled.
- ``q_sim_selfjoin``: exact pairwise similarity join above a threshold.
  DuckDB-oracled.
- ``q_sim_ann_lsh`` / ``q_sim_ann_ivf`` / ``q_sim_ann_pq``: the scale
  paths — banded random-hyperplane (sign) LSH, an inverted file over
  coarse centroids, and product quantization with asymmetric-distance
  (ADC) scoring. Each has ONE builder (``ann_lsh_topk``,
  ``ann_ivf_topk``, ``pq_topk``) that takes its hash family or codebook
  as a frozen record argument:

  * the md5 integer family (``MD5_LSH``, ``MD5_IVF``, ``MD5_PQ``) —
    hyperplanes, anchors and codebooks derived from md5 and applied to
    FLOOR(e*1000)-quantized vectors in int64, so DuckDB replays every
    bucket decision exactly. The registered gate names use it, and their
    oracles hash-verify the whole pipeline;
  * the engine-native family (``GAUSSIAN_LSH``, ``KMEANS_IVF``,
    ``TRAINED_PQ``) — seeded Gaussian hyperplanes and sample-trained
    float centroids/codebooks. Better recall, but numpy-only, so it is
    judged by in-plan recall verdicts (``q_sim_ann_recall``,
    ``q_sim_ann_pq_native_audit``, ``audit.q_approx_audit``) and timed by
    ``benchmark.py`` through the ``q_sim_ann_*_native`` functions.

Cosine math is built-in higher-order array functions (zip_with +
aggregate) over ``array<double>`` — JVM-side. Sequential fold order
matches DuckDB's list_sum, so thresholds compare bit-stably. The one
Python stage per approximate plan is an Arrow-vectorized signature,
assignment or encoding pass (one numpy matmul per batch).

100 TB design: brute force is O(Q×N) per query batch — fine for small Q
with a broadcast; the approximate builders share one candidate →
exact-rerank → top-k tail, and only the candidate stage differs (bucket
equi-join, probed inverted lists, or an ADC shortlist). Exact-then-prune
top-k staging mirrors the candidate/verify split used by distributed
top-k similarity systems (EDBT 2020 / ICDE 2021 REPOSE / SIGMOD 2020
CASS, PAPERS.md): cheap signatures bound the candidate set, exact
scoring ranks only candidates.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import local_df, spread, table
from ..functions.determinism import canon
from ..plans.registry import alias_query, query

_QUERY_VEC_IDS = (0, 1, 2, 3, 4)
_TOP_K = 10
_SELFJOIN_THRESHOLD = 0.42


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def _cos8(qe: str = "qe", e: str = "e", qn: str = "qn", n: str = "n") -> Column:
    """``round(cosine, 8)`` as ONE parsed expression (r15, guide §7.3
    driver work): the zip_with/aggregate lambda-DSL spelling costs ~25
    py4j round trips per call site and this module has a dozen of them;
    the string parses in a single call. ``0.0D`` is the same double
    literal as ``F.lit(0.0)``, the fold order is unchanged, so the
    expression tree — and the bit-exact sequential sum it guarantees —
    is identical."""
    return F.expr(
        f"round(aggregate(zip_with({qe}, {e}, (a, b) -> a * b), 0.0D,"
        f" (acc, v) -> acc + v) / ({qn} * {n}), 8)"
    )


def _norm(x: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(x, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v)
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id, e (double array), n (precomputed L2 norm).

    Norms are computed once per vector here, NOT per pair: higher-order
    array functions are interpreted (outside codegen), so dropping the two
    per-pair norm folds cuts the pairwise stage to a single dot fold —
    ~3x on the brute-force paths.
    """
    return spread(table(spark, sf_dir, "embeddings")).selectExpr(
        "vec_id",
        "CAST(embedding AS array<double>) AS e",
        "label",
        "sqrt(aggregate(transform(CAST(embedding AS array<double>),"
        " v -> v * v), 0.0D, (acc, v) -> acc + v)) AS n",
    )


_SQL_COS = (
    "LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), t -> t[1] * t[2]))"
    " / (SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> x * x)))"
    " * SQRT(LIST_SUM(LIST_TRANSFORM({b}, x -> x * x))))"
)


def _query_vectors(emb: DataFrame, query_ids, *extra: Column) -> DataFrame:
    """(query_id, qe, qn, *extra) rows of the query set."""
    return emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
        *extra,
    )


def _cosine() -> Column:
    """The rounded query↔vector cosine every ranking orders on."""
    return _cos8().cast("decimal(38,8)").alias("cosine")


def _rank_top_k(scored: DataFrame) -> DataFrame:
    """(query_id, vec_id, cosine) → per-query top-k on the rounded cosine
    with vec_id tiebreak, so cross-engine ordering is deterministic."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", canon("cosine").alias("cosine"), "rank")
    )


def exact_topk(emb: DataFrame, query_ids) -> DataFrame:
    """Brute-force top-k: the broadcast query set against one scan."""
    scored = emb.join(
        F.broadcast(_query_vectors(emb, query_ids)),
        F.col("vec_id") != F.col("query_id"),
    ).select("query_id", "vec_id", _cosine())
    return _rank_top_k(scored)


@query(
    "q_sim_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id IN {_QUERY_VEC_IDS}),
    scored AS (
        SELECT q.query_id, v.vec_id,
               CAST(ROUND({_SQL_COS.format(a='q.qe', b='v.e')}, 8)
                    AS DECIMAL(38,8)) AS cosine
        FROM q JOIN v ON v.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, CAST(cosine AS VARCHAR) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rn FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{k} for a fixed query-vector set (brute force —
    the ANN correctness baseline). Ranking is on the *rounded* cosine with
    vec_id tiebreak so cross-engine ordering is deterministic."""
    return exact_topk(_embeddings(spark, sf_dir), _QUERY_VEC_IDS)


@query(
    "q_sim_selfjoin",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           {_SQL_COS.format(a='a.e', b='b.e')} AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_SQL_COS.format(a='a.e', b='b.e')} >= {_SELFJOIN_THRESHOLD}
    """,
)
def q_sim_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise near-duplicate vectors above a cosine threshold.

    **sf-capped oracle baseline, not the scale operator**: the O(n²) pair
    enumeration exists to be DuckDB-checkable and to ground-truth the
    bucketed twins. At 100 TB run ``q_sim_ann_lsh`` (banded bucket join)
    or ``q_sim_ann_ivf`` (centroid buckets) — same re-rank contract,
    candidates from equi-joins instead of all pairs.
    """
    emb = _embeddings(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.expr(
                "aggregate(zip_with(a.e, b.e, (x, y) -> x * y), 0.0D,"
                " (acc, v) -> acc + v) / (a.n * b.n)"
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SELFJOIN_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# The md5 integer family: cross-engine weights on quantized vectors
# ---------------------------------------------------------------------------

#: fixed-point quantization step for the cross-engine integer dot: both
#: engines compute FLOOR(e*1000) on the same float64, so the quantized
#: vectors are bit-identical and every signature/bucket decision is exact
#: int64 arithmetic — no float sign-bit divergence can exist.
_Q_SCALE = 1000


def _md5_weight(*parts: object) -> int:
    """(md5 of ':'-joined parts → first 15 hex digits) % 2001 - 1000 —
    the same value DuckDB computes as
    ``(('0x'||SUBSTR(MD5(a||':'||b),1,15))::UBIGINT::BIGINT % 2001) - 1000``."""
    import hashlib

    digest = hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()
    return int(digest[:15], 16) % 2001 - 1000


def _md5_matrix(prefix: list[object], rows: int, dim: int) -> np.ndarray:
    return np.asarray(
        [[_md5_weight(*prefix, i, j) for j in range(dim)] for i in range(rows)],
        dtype=np.int64,
    )


def _quantize(E: np.ndarray) -> np.ndarray:
    return np.floor(E * float(_Q_SCALE)).astype(np.int64)


def _scorer(weights: np.ndarray):
    """Maps vectors into the number system of ``weights``: integer (md5)
    weights score FLOOR(e*1000)-quantized vectors in exact int64.

    A UDF pickles ``_quantize`` by reference, so its Python workers
    import this package — and with it the ``_zipcache`` hook that spares
    every later invocation of a reused worker the pyspark.zip re-read."""
    return _quantize if weights.dtype.kind == "i" else (lambda E: E)


def _width(emb: DataFrame) -> int:
    return len(emb.select("e").first()["e"])


def _lsh_weight_sql(plane: str, dim_idx: str) -> str:
    return (
        f"((CAST(('0x' || SUBSTR(MD5({plane} || ':' || {dim_idx}), 1, 15)) "
        f"AS UBIGINT)::BIGINT % 2001) - 1000)"
    )


#: DuckDB CTEs ``v`` (raw vectors) and ``q`` (their quantization)
_MD5_VQ_SQL = f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id, e,
                 [CAST(FLOOR(x * {_Q_SCALE}) AS BIGINT) for x in e] AS qv
          FROM v)"""


def _rerank_sql(pairs: str) -> str:
    """DuckDB exact re-rank + top-k over a (query_id, vec_id) CTE."""
    return f"""scored AS (
        SELECT c.query_id, c.vec_id,
               CAST(ROUND({_SQL_COS.format(a='qq.e', b='dd.e')}, 8)
                    AS DECIMAL(38,8)) AS cosine
        FROM {pairs} c
        JOIN v qq ON qq.vec_id = c.query_id
        JOIN v dd ON dd.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, CAST(cosine AS VARCHAR) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rn FROM scored)
    WHERE rn <= {_TOP_K}"""


# ---------------------------------------------------------------------------
# Sign-LSH: banded random hyperplanes → bucket equi-join → exact re-rank
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SignLSH:
    """A sign-LSH family: ``bands`` bands of ``_LSH_BAND_BITS`` hyperplane
    bits; ``planes(n, dim)`` returns the n × dim hyperplane matrix
    (integer planes switch the signature to quantized int64 dots).

    Tuning math (p = per-bit disagreement = acos(cos)/π): per-neighbor
    recall is 1-(1-(1-p)^bits)^bands. This corpus's 10th neighbors
    sit at cos≈0.25 (p≈0.42), so 16 bands × 4 bits ⇒ ~87% recall; strong
    neighbors (cos≥0.8, p≈0.2) ⇒ >99.9%. At 100 TB, raise the band bits to
    sharpen selectivity per bucket and bands to buy recall back — the
    join shape (explode → hash join on the bucket key) is unchanged."""

    bands: int
    planes: Callable[[int, int], np.ndarray]


_LSH_BAND_BITS = 4
_LSH_SEED = 42


def hyperplanes(dim: int, bits: int = 64, seed: int = _LSH_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (fixed seed — SURVEY
    §7.4-4: reproducibility is a requirement, not a nicety)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


GAUSSIAN_LSH = SignLSH(
    16, lambda n, dim: np.asarray(hyperplanes(dim, n), dtype=np.float64)
)
MD5_LSH = SignLSH(8, lambda n, dim: _md5_matrix([], n, dim))


def _band_udf(lsh: SignLSH, dim: int):
    """Arrow-vectorized signature: one (batch × dim) @ (dim × bits) matmul
    per batch, band b packing its sign bits into one small int.

    Spelling the hyperplane dots as built-in fold expressions makes a
    ~4k-literal-node plan whose analysis/codegen dwarfs the actual math;
    the pandas_udf keeps the plan tiny."""
    from pyspark.sql.functions import pandas_udf

    bands, band_bits = lsh.bands, _LSH_BAND_BITS
    P = lsh.planes(bands * band_bits, dim).T  # dim × bits
    weights = (2 ** np.arange(band_bits)).astype(np.int64)
    quant = _scorer(P)

    @pandas_udf("array<int>")
    def sig(col: pd.Series) -> pd.Series:
        E = quant(np.stack(col.to_numpy()))  # batch × dim
        bits = (E @ P) >= 0  # batch × (bands*band_bits)
        packed = bits.reshape(len(E), bands, band_bits) @ weights
        return pd.Series([row.astype(np.int32).tolist() for row in packed])

    return sig


def _md5_bands_sql() -> str:
    """DuckDB CTEs ``v``/``q``/``dots``/``bands``: ``MD5_LSH``'s band
    values per vector, bit r of band b = sign of the int64 dot with
    plane b*bits + r."""
    bits = _LSH_BAND_BITS
    return f"""{_MD5_VQ_SQL},
    dots AS (
        SELECT q.vec_id, t.i AS plane,
               LIST_SUM([{_lsh_weight_sql('t.i', '(j - 1)')} * qv[j]
                         for j in RANGE(1, LEN(qv) + 1)]) AS dot
        FROM q, RANGE(0, {MD5_LSH.bands * bits}) t(i)
    ),
    bands AS (
        SELECT vec_id, plane // {bits} AS band,
               SUM(CASE WHEN dot >= 0
                        THEN 1 << (plane % {bits}) ELSE 0 END) AS bval
        FROM dots GROUP BY vec_id, plane // {bits}
    )"""


def banded_signatures(emb: DataFrame, lsh: SignLSH = GAUSSIAN_LSH) -> DataFrame:
    """Attach the banded LSH signature column to a vector frame and cache
    it. The signature table IS the index: every consumer (inverted index,
    query set, candidate re-join, the self-join in
    ``dedup.embed_lsh_canonical``) reads it repeatedly — at scale this is
    the persisted signature/index table every ANN system materializes
    once, not a per-query luxury."""
    return emb.withColumn("bands", _band_udf(lsh, _width(emb))(F.col("e"))).cache()


def ann_lsh_topk(
    emb: DataFrame, query_ids, lsh: SignLSH = GAUSSIAN_LSH
) -> DataFrame:
    """(vec_id, e, n) + query ids → approximate top-k via the banded
    bucket join — the operator behind ``q_sim_ann_lsh`` (also driven at
    10× by ``tools/scale_stress.py``):

    1. every vector posexplodes to one ``(band, band_value)`` row per
       band — the inverted index;
    2. the (tiny) query set explodes the same way and **hash-joins** on
       the bucket key — never a nested-loop predicate over N;
    3. candidate (query, vector) pairs dedup, re-join their vectors by
       key, and only those pairs pay the exact cosine.

    This mirrors the MinHash band join (dedup.py) — one design for both
    text and vector near-neighbor search."""
    signed = banded_signatures(emb, lsh)
    buckets = signed.select(
        "vec_id", F.posexplode("bands").alias("band", "bval")
    )
    qvec = _query_vectors(signed, query_ids, F.col("bands").alias("qbands"))
    qbuckets = qvec.select(
        "query_id", F.posexplode("qbands").alias("band", "bval")
    )
    # a pair can collide in several bands but must score once
    candidates = (
        buckets.join(F.broadcast(qbuckets), ["band", "bval"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        candidates.join(signed.select("vec_id", "e", "n"), "vec_id")
        .join(F.broadcast(qvec.select("query_id", "qe", "qn")), "query_id")
        .select("query_id", "vec_id", _cosine())
    )
    return _rank_top_k(scored)


def q_sim_ann_lsh_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_lsh_topk`` on ``GAUSSIAN_LSH`` (16×4 seeded hyperplanes) —
    the quality/bench path, recall-audited by ``q_sim_ann_recall``."""
    return ann_lsh_topk(_embeddings(spark, sf_dir), _QUERY_VEC_IDS)


@query(
    "q_sim_ann_lsh_oracled",
    oracle=f"""
    WITH {_md5_bands_sql()},
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, db.vec_id AS vec_id
        FROM bands qb
        JOIN bands db ON qb.band = db.band AND qb.bval = db.bval
        WHERE qb.vec_id IN {_QUERY_VEC_IDS} AND db.vec_id <> qb.vec_id
    ),
    {_rerank_sql('cand')}
    """,
)
def q_sim_ann_lsh_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_lsh_topk`` on ``MD5_LSH``: quantize → md5 integer hyperplanes
    → 8×4 banding → bucket equi-join candidates → exact cosine re-rank →
    top-k, hash-verified against DuckDB end to end. (The oracle spells
    the band join over all (vec, band) rows because DuckDB has no
    partitioned-index idiom — the Spark side is the real banded design.)
    """
    return ann_lsh_topk(_embeddings(spark, sf_dir), _QUERY_VEC_IDS, MD5_LSH)


alias_query("q_sim_ann_lsh", "q_sim_ann_lsh_oracled")


# ---------------------------------------------------------------------------
# IVF: nearest-centroid buckets → probe the nearest lists → exact re-rank
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IVFQuantizer:
    """An inverted-file coarse quantizer: ``centroids(emb)`` returns the
    k × dim centroid matrix (integer centroids score quantized int64
    dots)."""

    centroids: Callable[[DataFrame], np.ndarray]


_IVF_K = 16
#: each query probes its 2 nearest lists
_IVF_PROBES = 2
_IVF_ITERS = 3
#: deterministic IVF training sample: the lowest vec_ids (same bounded
#: driver-side pattern as the PQ codebook's training sample)
_IVF_TRAIN = 512


def _centroids(emb: DataFrame, k: int = _IVF_K, iters: int = _IVF_ITERS) -> np.ndarray:
    """Deterministic mini k-means (Lloyd) trained on a bounded sample.

    Init = the k lowest vec_ids (deterministic, no RNG); Lloyd then runs
    entirely in driver-side float64 numpy on the ``_IVF_TRAIN`` lowest
    vec_ids — one bounded collect total, NOT one full-corpus pass per
    iteration. Training an IVF coarse quantizer on a sample is the
    standard build (the index is k rows regardless of corpus size; only
    the final ASSIGNMENT touches every vector). Assignment uses argmax
    dot with first-occurrence (lowest-cid) tie-breaks, update is the
    float64 mean — the same rules the distributed assignment UDF
    applies."""
    sample = np.stack(
        [
            r.e
            for r in emb.orderBy("vec_id")
            .limit(_IVF_TRAIN)
            .select("e")
            .collect()
        ]
    ).astype(np.float64)
    if len(sample) < k:
        raise ValueError(
            f"IVF coarse quantizer needs >= {k} training vectors for the "
            f"deterministic first-k init; got {len(sample)}"
        )
    C = sample[:k].copy()
    for _ in range(iters):
        cid = np.argmax(sample @ C.T, axis=1)  # first max = lowest cid
        for c in range(k):
            members = sample[cid == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


KMEANS_IVF = IVFQuantizer(_centroids)
MD5_IVF = IVFQuantizer(lambda emb: _md5_matrix(["a"], _IVF_K, _width(emb)))


def _nearest_udf(C: np.ndarray, top: int):
    """Top-``top`` centroid ids per vector by dot (dot desc, id asc —
    the stable argsort matches the SQL ROW_NUMBER order). The centroid
    matrix rides along as a closure, exactly like a broadcast
    variable."""
    from pyspark.sql.functions import pandas_udf

    quant = _scorer(C)

    @pandas_udf("array<int>")
    def nearest(col: pd.Series) -> pd.Series:
        dots = quant(np.stack(col.to_numpy())) @ C.T  # batch × k
        order = np.argsort(-dots, axis=1, kind="stable")[:, :top]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return nearest


def ann_ivf_topk(
    emb: DataFrame, query_ids, ivf: IVFQuantizer = KMEANS_IVF
) -> DataFrame:
    """IVF top-k: data is partitioned once by nearest centroid (one
    vectorized matmul per Arrow batch, no crossJoin, no window), each
    query probes its nearest lists, and candidates get the exact
    re-rank — queries touch probes/k of the table."""
    C = ivf.centroids(emb)
    assigned = emb.select(
        "vec_id", "e", "n", _nearest_udf(C, 1)(F.col("e"))[0].alias("bucket")
    )
    probes = _query_vectors(
        emb,
        query_ids,
        F.explode(_nearest_udf(C, _IVF_PROBES)(F.col("e"))).alias("bucket"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine())
    )
    return _rank_top_k(scored)


def q_sim_ann_ivf_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf_topk`` on ``KMEANS_IVF`` (Lloyd-trained centroids, the
    quality path; recall-audited by ``q_approx_audit``). The vector
    table is cached: it feeds the training sample, the assignment and
    the probe scoring."""
    return ann_ivf_topk(_embeddings(spark, sf_dir).cache(), _QUERY_VEC_IDS)


@query(
    "q_sim_ann_ivf_oracled",
    oracle=f"""
    WITH {_MD5_VQ_SQL},
    adots AS (
        SELECT q.vec_id, t.c AS anchor,
               LIST_SUM([{_lsh_weight_sql("'a:' || t.c", '(j - 1)')} * qv[j]
                         for j in RANGE(1, LEN(qv) + 1)]) AS dot
        FROM q, RANGE(0, {_IVF_K}) t(c)
    ),
    ranked AS (
        SELECT vec_id, anchor,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, anchor) AS rn
        FROM adots
    ),
    buckets AS (SELECT vec_id, anchor FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, anchor FROM ranked
               WHERE rn <= {_IVF_PROBES}
                 AND vec_id IN {_QUERY_VEC_IDS}),
    cand AS (
        SELECT DISTINCT p.query_id, b.vec_id
        FROM probes p JOIN buckets b ON b.anchor = p.anchor
        WHERE b.vec_id <> p.query_id
    ),
    {_rerank_sql('cand')}
    """,
)
def q_sim_ann_ivf_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf_topk`` on ``MD5_IVF``: bucket assignment is argmax over
    16 md5-derived integer anchor vectors (int64 dots on quantized
    embeddings — exact in both engines), queries probe their top-2
    anchors, candidates get the exact cosine re-rank. Hash-verifies the
    inverted-file pipeline end to end."""
    return ann_ivf_topk(_embeddings(spark, sf_dir), _QUERY_VEC_IDS, MD5_IVF)


alias_query("q_sim_ann_ivf", "q_sim_ann_ivf_oracled")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compressed ANN scale path
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PQCodebook:
    """A PQ codebook source: ``books(sample)`` returns the (M, K, d_sub)
    codebook from the ``train_rows`` lowest-vec_id vectors (0 = a fixed
    codebook); the ADC shortlist keeps ``refine`` × k rows per query.

    Float codebooks rank the shortlist on the ADC cosine; integer (md5)
    codebooks encode quantized vectors and rank on the exact int64 ADC
    inner product, which DuckDB reproduces bit for bit."""

    refine: int
    train_rows: int
    books: Callable[[np.ndarray], np.ndarray]


_PQ_M = 8        # subspaces (64-dim vectors → 8 sub-vectors of 8 dims)
_PQ_K = 64       # centroids per subspace (6-bit codes)
_PQ_ITERS = 5
_MD5_PQ_M = 4     # subspaces (64-dim → 4 sub-vectors of 16 dims)
_MD5_PQ_DSUB = 16
_MD5_PQ_K = 16    # centroids per subspace


def _pq_train(sample: np.ndarray) -> np.ndarray:
    """Per-subspace Lloyd iterations over the training sample.

    Codebook training on a sample is the standard PQ build (the codebook
    is M×K×d_sub floats — here 8×64×8 — regardless of corpus size; only
    ENCODING touches every vector). float64 numpy with first-occurrence
    argmin ties → fully deterministic, no RNG."""
    if len(sample) < _PQ_K:
        raise ValueError(
            f"PQ codebook needs >= {_PQ_K} training vectors for the "
            f"deterministic first-K init; got {len(sample)}"
        )
    n, dim = sample.shape
    d_sub = dim // _PQ_M
    books = np.empty((_PQ_M, _PQ_K, d_sub))
    for m in range(_PQ_M):
        X = sample[:, m * d_sub : (m + 1) * d_sub]
        C = X[:_PQ_K].copy()  # deterministic init: first K sample rows
        for _ in range(_PQ_ITERS):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # first-occurrence ties
            for k in range(_PQ_K):
                members = X[assign == k]
                if len(members):
                    C[k] = members.mean(axis=0)
        books[m] = C
    return books


def _md5_codebooks() -> np.ndarray:
    """md5-derived integer codebooks, shape (M, K, d_sub) — the same
    cross-engine weight family as the hyperplanes/anchors, addressed as
    md5('pq:<m>:<k>:<j>')."""
    return np.asarray(
        [
            [
                [_md5_weight("pq", m, k, j) for j in range(_MD5_PQ_DSUB)]
                for k in range(_MD5_PQ_K)
            ]
            for m in range(_MD5_PQ_M)
        ],
        dtype=np.int64,
    )


TRAINED_PQ = PQCodebook(8, 512, _pq_train)
MD5_PQ = PQCodebook(4, 0, lambda sample: _md5_codebooks())


def _pq_encode_udf(books: np.ndarray):
    """Arrow-vectorized PQ encoder: codes[m] = argmin_k ||x_m - C[m,k]||²
    (ties to the lowest k). The codebook rides along as a closure (a
    broadcast variable in cluster terms)."""
    from pyspark.sql.functions import pandas_udf

    M, K, d_sub = books.shape
    quant = _scorer(books)

    @pandas_udf("array<int>")
    def enc(col: pd.Series) -> pd.Series:
        E = quant(np.stack(col.to_numpy()))  # batch × dim
        Es = E.reshape(len(E), M, d_sub)
        codes = np.empty((len(E), M), dtype=np.int32)
        for m in range(M):
            d2 = ((Es[:, m, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return enc


def pq_topk(
    emb: DataFrame, query_ids, codebook: PQCodebook = TRAINED_PQ
) -> DataFrame:
    """(vec_id, e, n) + query ids → PQ/ADC top-k with exact refine — the
    operator behind ``q_sim_ann_pq`` (also driven at 10× by
    ``tools/scale_stress.py``).

    PQ attacks the MEMORY axis: the scan reads M small ints per vector
    instead of ``dim`` doubles. Per query the driver precomputes an M×K
    table of sub-dot-products against the codebook; approximate
    dot(q, x) = Σ_m LUT[m, code_m] — a built-in higher-order aggregate
    over the code array, no Python in the scoring path — then an exact
    cosine refine of the shortlist only. True vector norms are kept
    exact (they compress poorly and cost one double)."""
    spark = emb.sparkSession
    # ONE driver job fetches the query rows and, for a trained codebook,
    # the training rows, tagged so they split client-side. The union's
    # row order is not contractual, so the training sample is re-sorted
    # by vec_id before the deterministic first-K init.
    rows = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.lit(1).alias("tag"), "vec_id", "e", "n"
    )
    if codebook.train_rows:
        rows = (
            emb.orderBy("vec_id")
            .limit(codebook.train_rows)
            .select(F.lit(0).alias("tag"), "vec_id", "e", "n")
            .unionByName(rows)
        )
    fetched = rows.collect()
    train = sorted((r for r in fetched if r.tag == 0), key=lambda r: r.vec_id)
    books = codebook.books(np.asarray([r.e for r in train], dtype=np.float64))
    integer = books.dtype.kind == "i"
    M, K, d_sub = books.shape
    # one-time encode — the persisted M-codes-per-vector table
    codes = emb.select(
        "vec_id", "n", _pq_encode_udf(books)(F.col("e")).alias("codes")
    )
    # per-query ADC lookup tables, flattened to length M*K
    quant = _scorer(books)
    lut_rows = []
    for r in fetched:
        if r.tag == 1:
            q = quant(np.asarray(r.e, dtype=np.float64))
            lut = np.einsum("ms,mks->mk", q.reshape(M, d_sub), books).reshape(-1)
            lut_rows.append((r.vec_id, r.n, lut.tolist()))
    lut_type = "long" if integer else "double"
    luts = local_df(
        spark, lut_rows, f"query_id long, qn double, lut array<{lut_type}>"
    )
    zero = "CAST(0 AS BIGINT)" if integer else "0D"
    adc = F.expr(
        f"aggregate(sequence(0, {M - 1}), {zero},"
        f" (acc, m) -> acc + lut[m * {K} + element_at(codes, m + 1)])"
    )
    score = "adc_ip" if integer else "adc_cosine"
    approx = codes.join(
        F.broadcast(luts), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (adc if integer else adc / (F.col("qn") * F.col("n"))).alias(score),
    )
    # ADC shortlist, then exact re-rank of candidates only (Faiss-style
    # refine): the full-precision vectors are fetched for refine*k rows
    # per query, not the whole table.
    wa = W.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("vec_id").asc()
    )
    shortlist = (
        approx.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= codebook.refine * _TOP_K)
        .select("query_id", "vec_id")
    )
    scored = (
        shortlist.join(emb.select("vec_id", "e", "n"), "vec_id")
        .join(F.broadcast(_query_vectors(emb, query_ids)), "query_id")
        .select("query_id", "vec_id", _cosine())
    )
    return _rank_top_k(scored)


def q_sim_ann_pq_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pq_topk`` on ``TRAINED_PQ`` (sample-trained 8×64 float
    codebooks, refine depth 8) — the quality/bench path, recall-audited
    by ``q_sim_ann_pq_native_audit`` and ``q_approx_audit``."""
    return pq_topk(_embeddings(spark, sf_dir).cache(), _QUERY_VEC_IDS)


def _md5_pq_weight_sql(m: str, k: str, j: str) -> str:
    return _lsh_weight_sql(f"'pq:' || {m} || ':' || {k}", j)


@query(
    "q_sim_ann_pq_oracled",
    oracle=f"""
    WITH {_MD5_VQ_SQL},
    dists AS (
        SELECT q.vec_id, t.m AS m, s.k AS k,
               LIST_SUM([(qv[t.m * {_MD5_PQ_DSUB} + j]
                          - {_md5_pq_weight_sql('t.m', 's.k', '(j - 1)')})
                         * (qv[t.m * {_MD5_PQ_DSUB} + j]
                            - {_md5_pq_weight_sql('t.m', 's.k', '(j - 1)')})
                         for j in RANGE(1, {_MD5_PQ_DSUB} + 1)]) AS dist
        FROM q, RANGE(0, {_MD5_PQ_M}) t(m), RANGE(0, {_MD5_PQ_K}) s(k)
    ),
    codes AS (
        SELECT vec_id, m, k AS code
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                           ORDER BY dist, k) AS rn
              FROM dists)
        WHERE rn = 1
    ),
    adc AS (
        SELECT qq.vec_id AS query_id, c.vec_id,
               SUM(LIST_SUM([qq.qv[c.m * {_MD5_PQ_DSUB} + j]
                             * {_md5_pq_weight_sql('c.m', 'c.code', '(j - 1)')}
                             for j in RANGE(1, {_MD5_PQ_DSUB} + 1)])) AS adc_ip
        FROM codes c
        JOIN q qq ON qq.vec_id IN {_QUERY_VEC_IDS}
        WHERE c.vec_id <> qq.vec_id
        GROUP BY qq.vec_id, c.vec_id
    ),
    shortlist AS (
        SELECT query_id, vec_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_ip DESC, vec_id) AS arank FROM adc)
        WHERE arank <= {MD5_PQ.refine * _TOP_K}
    ),
    {_rerank_sql('shortlist')}
    """,
)
def q_sim_ann_pq_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pq_topk`` on ``MD5_PQ``: md5 integer centroids per subspace,
    int64 argmin encoding, exact integer inner-product ADC, shortlist →
    exact cosine refine — the whole compress/score/refine pipeline
    hash-verifies against DuckDB."""
    return pq_topk(_embeddings(spark, sf_dir).cache(), _QUERY_VEC_IDS, MD5_PQ)


alias_query("q_sim_ann_pq", "q_sim_ann_pq_oracled")


# ---------------------------------------------------------------------------
# In-plan recall verdicts for the engine-native families
# ---------------------------------------------------------------------------

#: per-query recall floor: observed recall@10 on the fixed corpus is
#: 0.7–1.0 per query for GAUSSIAN_LSH and 0.8–1.0 for TRAINED_PQ (sf0.001
#: + sf0.01); 0.6 keeps margin. Deterministic for fixed input.
_RECALL_FLOOR = 0.6

_RECALL_ORACLE = f"""
    SELECT vec_id AS query_id,
           {_TOP_K} AS k,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id IN {_QUERY_VEC_IDS}
    """


def _recall_verdict(emb: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, k, recall_ok): recall@k of an approximate top-k against
    the exact brute-force top-k over the same vectors."""
    exact = exact_topk(emb, _QUERY_VEC_IDS).select("query_id", "vec_id")
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            "query_id",
            F.lit(_TOP_K).alias("k"),
            (F.col("n_hits") >= F.lit(int(_RECALL_FLOOR * _TOP_K))).alias(
                "recall_ok"
            ),
        )
    )


@query("q_sim_ann_recall", oracle=_RECALL_ORACLE)
def q_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit IN-PLAN: recall@k of the ``GAUSSIAN_LSH`` index
    against the exact brute-force top-k, per query — the acceptance test
    every ANN deployment runs before trusting an index, here one Spark
    job whose verdict column the DuckDB oracle hash-checks (the seeded
    Gaussian planes can't be reproduced cross-engine, so the *contract*
    is what gets hash-verified; a silent index regression flips
    recall_ok). At 100 TB you run this on a sampled query set — the plan
    is already sample-sized in everything but the one exact scan."""
    emb = _embeddings(spark, sf_dir)
    return _recall_verdict(emb, ann_lsh_topk(emb, _QUERY_VEC_IDS))


@query("q_sim_ann_pq_native_audit", oracle=_RECALL_ORACLE)
def q_sim_ann_pq_native_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same recall verdict for ``pq_topk`` on ``TRAINED_PQ`` — the
    codebook family the ``q_sim_ann_pq`` bench headline times
    (``benchmark.NATIVE_IMPLS``). A silent regression in the encode, the
    ADC fold, or the refine flips the verdict; the md5 codebook behind
    the gate name pins the PQ mechanics bit for bit."""
    emb = _embeddings(spark, sf_dir).cache()
    return _recall_verdict(emb, pq_topk(emb, _QUERY_VEC_IDS))


_FUSE_N = 50
_FUSE_K = 60
_FUSE_TOP = 20


def _rrf_bm25_sql() -> str:
    from .text import _BM25_B, _BM25_FP, _BM25_K1, _BM25_TERMS

    return f"""
    toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN {_BM25_TERMS} GROUP BY doc_id, term
    ),
    dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    bm AS (
        SELECT tf.doc_id,
               SUM(CAST(FLOOR(
                   LN((stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1)
                   * (tf.tf * ({_BM25_K1} + 1))
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl))
                   * {_BM25_FP} + 0.5) AS BIGINT)) AS bm25_fp
        FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )"""


@query(
    "q_rank_fusion",
    oracle=f"""
    WITH {_rrf_bm25_sql()},
    lexr AS (
        SELECT doc_id, rn AS lex_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25_fp DESC, doc_id) AS rn
            FROM bm) WHERE rn <= {_FUSE_N}
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cos AS (
        SELECT v.vec_id AS doc_id,
               CAST(ROUND({_SQL_COS.format(a='qv.qe', b='v.e')}, 8)
                    AS DECIMAL(38,8)) AS cosine
        FROM v CROSS JOIN qv WHERE v.vec_id <> 0
    ),
    vecr AS (
        SELECT doc_id, rn AS vec_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rn
            FROM cos) WHERE rn <= {_FUSE_N}
    )
    SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
           CAST(vec_rank AS INT) AS vec_rank,
           CAST(CAST(ROUND(COALESCE(1.0 / ({_FUSE_K} + lex_rank), 0)
                         + COALESCE(1.0 / ({_FUSE_K} + vec_rank), 0), 9)
                AS DECIMAL(38,9)) AS VARCHAR) AS rrf
    FROM lexr FULL JOIN vecr USING (doc_id)
    ORDER BY COALESCE(1.0 / ({_FUSE_K} + lex_rank), 0)
           + COALESCE(1.0 / ({_FUSE_K} + vec_rank), 0) DESC, doc_id
    LIMIT {_FUSE_TOP}
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the hybrid-retrieval combiner: the BM25
    lexical top-{_FUSE_N} (``text.bm25_frame``) and the exact-cosine
    vector top-{_FUSE_N} (query = vector 0, ranked on the rounded cosine
    per the ``q_sim_topk`` convention) full-outer-join on doc_id and each
    doc scores Σ 1/({_FUSE_K}+rank) over the lists it appears in.

    RRF needs only the RANKS, never the incomparable raw scores — which
    is also why it cross-engine-hashes exactly: ranks are integers with
    doc_id tiebreaks, and 1/(k+rank) on identical integers is the
    identical double. Plan shape: both rankers end in a top-{_FUSE_N}
    (TakeOrdered — no global sort), the row_number windows run on those
    {_FUSE_N}-row frames only, and the fusion join touches 2×{_FUSE_N}
    rows regardless of corpus size — at 100 TB all the cost is in the
    two scorers, which are each already scale-shaped (see ``q_bm25``,
    ``q_sim_topk``).
    """
    from .text import bm25_frame

    d = table(spark, sf_dir, "documents")
    lex_top = (
        bm25_frame(d)
        .orderBy(F.col("bm25_fp").desc(), F.col("doc_id").asc())
        .limit(_FUSE_N)
    )
    lexr = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25_fp").desc(), F.col("doc_id").asc()))
        .cast("int")
        .alias("lex_rank"),
    )
    emb = _embeddings(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos8()
            .cast("decimal(38,8)")
            .alias("cosine"),
        )
    )
    vec_top = cos.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()).limit(
        _FUSE_N
    )
    vecr = vec_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()))
        .cast("int")
        .alias("vec_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (_FUSE_K + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (_FUSE_K + F.col("vec_rank")), F.lit(0.0))
    return (
        lexr.join(vecr, "doc_id", "full_outer")
        .orderBy(rrf.desc(), F.col("doc_id").asc())
        .limit(_FUSE_TOP)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(rrf, 9).cast("decimal(38,9)").cast("string").alias("rrf"),
        )
    )
