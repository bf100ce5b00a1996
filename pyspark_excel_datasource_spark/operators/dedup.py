"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.4).

Four families over ``documents`` / ``embeddings``:

- **Exact near-dup pairs** (``q_dedup_near``): word-3-gram shingles, exact
  Jaccard via an inverted-index self-join. Exact ⇒ DuckDB-oracled.
- **MinHash + LSH banding** (``q_dedup_minhash``): the 100 TB path — a
  32-hash signature, 8 bands × 4 rows, candidates from band-bucket joins,
  exact Jaccard verification of candidates only.
- **SimHash** (``q_dedup_simhash``): bit-vote signatures, banded
  candidate join, exact Hamming verification.
- **Embedding near-dup canonicalization** (``q_dedup_embed``): cosine
  threshold → per-vector canonical id (min neighbor id), with the
  sign-LSH twin ``q_dedup_embed_lsh``.

Each approximate operator has ONE builder (``minhash_pairs``,
``incremental_lsh_pairs``, ``simhash_pairs``, ``embed_lsh_canonical``)
that takes its hash family as a frozen record argument:

- the **md5 family** (``MD5_MINHASH``, ``MD5_SIMHASH``,
  ``similarity.MD5_LSH``) hashes with md5 — bit-identical in DuckDB, so
  the registered gate names hash-verify the whole pipeline against
  their oracles;
- the **engine-native family** (``XXHASH_MINHASH``, ``XXHASH_SIMHASH``,
  ``similarity.GAUSSIAN_LSH``) hashes with Spark's built-in ``xxhash64``
  (JVM, codegen) or seeded Gaussian hyperplanes. It is the one
  ``benchmark.py`` times (``q_*_native``), and in-plan audits
  (``q_dedup_minhash_native_audit``, ``q_dedup_embed_lsh``,
  ``q_dedup_incremental_lsh``, ``audit.q_approx_audit``) judge its
  recall.

Text signatures are built-in SQL expressions in both families; the
embedding signatures are one Arrow-vectorized numpy pass.

Scale analysis (the part that matters at 100 TB):

- The inverted-index join in ``q_dedup_near`` is exact but its cost is
  Σ_shingle df(shingle)² — fine when shingles are near-unique (real text),
  quadratic on hot shingles. The MinHash builder replaces it with
  O(docs × bands) bucket keys; that is the one to run at 100 TB, with the
  exact verification joining back only candidate pairs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import spread, table
from ..plans.registry import ORACLES, alias_query, query
from .similarity import (
    _SQL_COS,
    GAUSSIAN_LSH,
    MD5_LSH,
    SignLSH,
    _dot,
    _md5_bands_sql,
    _norm,
    banded_signatures,
)

_NEAR_DUP_THRESHOLD = 0.5


def _shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + distinct word-3-gram shingle array (built-in array fns).

    Shingling is CPU-bound interpreted array work — spread the (often
    single-partition) input across cores first.
    """
    df = spread(df)
    # Guard sub-3-token documents: sequence(0, size-3) would descend (e.g.
    # [0,-1]) and element_at(w, 0) raises INVALID_INDEX_OF_ZERO. The DuckDB
    # oracle's RANGE(1, LEN(w)-1) yields empty there — match it.
    # One F.expr for the whole shingle column (r15, guide §7.3 driver
    # work): the column-DSL spelling (when/size/transform lambda/3×
    # element_at/concat_ws/array_distinct) cost ~35 py4j round trips per
    # build; one SQL string parses in a single call. The expression tree
    # is identical — the DSL's shared ``w`` Column repeats its split()
    # subtree at every reference exactly as the string does, and
    # codegen-level CSE collapses both the same way.
    w = f"split(`{text_col}`, ' ')"
    sh = F.expr(
        f"""CASE WHEN size({w}) >= 3 THEN array_distinct(transform(
              sequence(0, size({w}) - 3),
              i -> concat_ws(' ', element_at({w}, i + 1),
                             element_at({w}, i + 2),
                             element_at({w}, i + 3))))
            ELSE cast(array() AS array<string>) END"""
    )
    return df.select("doc_id", sh.alias("shingles"))


def _pair_overlap(shingled: DataFrame) -> DataFrame:
    """Shingle-set overlap per doc pair: (d1, d2, n1, n2, inter) via
    inverted-index self-join — the shared base of every exact set-overlap
    statistic (Jaccard in ``_exact_pairs``, containment in
    ``q_dedup_containment``).

    The join key is ``xxhash64(shingle)`` (8-byte long), not the shingle
    string — same shuffle topology, ~4x less shuffle volume and cheap
    equality. A 64-bit collision inside one doc pair (P ≈ n²/2⁶⁴ ≈ 1e-9
    here) would be caught by the DuckDB oracle, which joins on strings.
    """
    # Set sizes travel WITH the token rows (8 extra bytes/row), so the
    # whole operator is one explode → one shuffle join → one aggregation:
    # no second shingle computation, no post-join size lookups.
    toks = shingled.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s0")
    ).select("doc_id", "n", F.xxhash64("s0").alias("s"))
    # Cache the token table: both join sides scan it, and without the cache
    # the whole shingle pipeline runs twice (the broadcast side's exchange
    # is not reusable). shuffle_hash instead of broadcast: the token table
    # scales with the corpus, so never ship it through the driver.
    toks = toks.hint("shuffle_hash").cache()
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )


def _exact_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs (see ``_pair_overlap`` for the join shape)."""
    return (
        _pair_overlap(shingled)
        .select(
            "d1",
            "d2",
            F.col("inter").cast("long").alias("inter"),
            (
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@query(
    "q_dedup_near",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
    ),
    toks AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh)
    SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
           CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= {_NEAR_DUP_THRESHOLD}
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (threshold 0.5).

    Jaccard = exact-int division → bit-identical cross-engine, no rounding
    needed. This is the correctness reference for the LSH variants below.
    """
    docs = table(spark, sf_dir, "documents")
    return _exact_pairs(_shingles(docs), _NEAR_DUP_THRESHOLD)


# ---------------------------------------------------------------------------
# MinHash: signature → 8×4 banding → band equi-join → exact Jaccard verify
# ---------------------------------------------------------------------------

_N_HASHES = 32
_N_BANDS = 8  # 4 rows per band


@dataclass(frozen=True)
class MinHashFamily:
    """A MinHash signature hash: ``hash_sql`` spells h_i in Spark SQL
    over one token row (``{i}`` = hash index), reading either the
    shingle's 8-byte xxhash64 token ``s`` or the shingle string ``s0``."""

    hash_sql: str

    @property
    def text(self) -> bool:
        """True when the hash reads the shingle string ``s0``."""
        return "s0" in self.hash_sql


#: h_i = xxhash64(i, xxhash64(shingle)) — hash-of-hash (r14): re-hashing
#: the 8-byte token is ~an order of magnitude cheaper per (i, shingle)
#: pair than re-hashing variable-length strings 32×, and composing
#: independent xxhash64 applications is the same min-wise family.
XXHASH_MINHASH = MinHashFamily("xxhash64({i}, s)")
#: h_i = the first 60 bits of md5(i || ':' || shingle), as DuckDB spells it
MD5_MINHASH = MinHashFamily(
    "CAST(conv(substring(md5(concat('{i}:', s0)), 1, 15), 16, 10) AS BIGINT)"
)


def _hash_tokens(shingled: DataFrame, text: bool = False) -> DataFrame:
    """(doc_id, n, s[, s0]): per-doc distinct-set size + 8-byte xxhash64
    token rows (plus the shingle string when a signature hash reads it)
    — the single shared scan of the MinHash pipeline (r14): signatures,
    banding and candidate verification all derive from it, so shingles
    are exploded exactly once and the verify joins move 24-byte rows."""
    return shingled.selectExpr(
        "doc_id", "size(shingles) AS n", "explode(shingles) AS s0"
    ).selectExpr("doc_id", "n", "xxhash64(s0) AS s", *(["s0"] if text else []))


def _minhash_bands(toks: DataFrame, family: MinHashFamily) -> DataFrame:
    """(doc_id, band, bucket): the 32-hash signature of each document, cut
    into 8 bands of 4 rows, each band keyed by the xxhash64 of its rows.

    One explode + one groupBy (single shuffle keyed by doc_id; the min
    aggregates run map-side). The signature array and the banding are one
    SQL expression each (r14, guide §7.3 driver work): the column-DSL
    spelling built hundreds of JVM-bridged Column objects per build, one
    string parses in a single call. ``inline()`` is explode +
    struct-field projection in one generator."""
    arr = ", ".join(f"min({family.hash_sql.format(i=i)})" for i in range(_N_HASHES))
    sig = toks.groupBy("doc_id").agg(F.expr(f"array({arr}) AS sig"))
    rows = _N_HASHES // _N_BANDS
    structs = ", ".join(
        "struct({b} AS band, xxhash64({els}) AS bucket)".format(
            b=b,
            els=", ".join(
                f"element_at(sig, {b * rows + r + 1})" for r in range(rows)
            ),
        )
        for b in range(_N_BANDS)
    )
    return sig.select("doc_id", F.expr(f"inline(array({structs}))"))


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (d1 < d2) sharing a (band, bucket) key."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.bucket = b.bucket"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id AS d1", "b.doc_id AS d2")
        .distinct()
    )


def minhash_candidates(shingled: DataFrame) -> DataFrame:
    """Shingled docs → distinct ``XXHASH_MINHASH`` banding candidate pairs
    — the candidate stage of ``minhash_pairs``, exposed so
    ``q_dedup_minhash_native_audit`` can pin its coverage."""
    return _band_pairs(_minhash_bands(_hash_tokens(shingled), XXHASH_MINHASH))


def minhash_pairs(
    docs: DataFrame, family: MinHashFamily = XXHASH_MINHASH
) -> DataFrame:
    """(doc_id, text) → verified near-dup pairs (d1, d2, jaccard) via
    MinHash banding — the operator behind ``q_dedup_minhash`` (also driven
    at 10× by ``tools/scale_stress.py``).

    With 8 bands × 4 rows, P(candidate) = 1-(1-j⁴)⁸: ≈0.97 at j=0.7,
    ≈0.33 at j=0.3 — the planted near-dups (j≥0.5) are found with high
    probability while the background pairs (j<0.1) almost never collide,
    so the verify join touches candidate pairs only. The cache sits on
    the TOKEN table, not the shingle arrays (r14): both consumers read
    token rows, so caching below the explode would re-run it once per
    consumer and pin the larger array payload in storage."""
    toks = _hash_tokens(_shingles(docs), family.text).cache()
    return _verify_from_tokens(_band_pairs(_minhash_bands(toks, family)), toks)


def q_dedup_minhash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_pairs`` on ``XXHASH_MINHASH`` — the timed fast path
    (``benchmark.NATIVE_IMPLS``), audited in-plan by
    ``q_dedup_minhash_native_audit`` and ``q_approx_audit``."""
    return minhash_pairs(table(spark, sf_dir, "documents"))


def verify_candidates(candidates: DataFrame, shingled: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs only (the LSH
    contract: approximate recall, exact precision).

    r14 spelling (VERDICT r13 #6): the verify path moves only 8-byte
    xxhash64 tokens + ids — never shingle ARRAYS (the r13 form joined
    each candidate doc's full shingle array through the shuffle, i.e.
    document text volume). Set sizes ride the token rows and
    |intersection| falls out of a (d2, s)-keyed join — the same
    inverted-index arithmetic as ``_pair_overlap``, restricted to
    candidates only. A 64-bit shingle collision (P ≈ n²/2⁶⁴) would be
    caught by the DuckDB oracle, which verifies on strings. Plan-pinned
    by ``test_plan_quality.py::test_minhash_verify_shuffles_hashes_only``.
    """
    return _verify_from_tokens(candidates, _hash_tokens(shingled))


def _verify_from_tokens(candidates: DataFrame, toks: DataFrame) -> DataFrame:
    """Exact-Jaccard verify over a (doc_id, n, s) token-hash table (see
    ``verify_candidates`` for the contract and shuffle-volume story).

    The pair joins carry only 24-byte token rows and the (tiny, df-cap-
    bounded) pair list; AQE picks broadcast for the pair side at any
    realistic candidate volume and degrades to a hash-only shuffle join
    beyond that — either way no array and no document text moves."""
    t1 = toks.selectExpr("doc_id AS d1", "n AS n1", "s")
    t2 = toks.selectExpr("doc_id AS d2", "n AS n2", "s")
    return (
        candidates.join(t1, "d1")
        .join(t2, ["d2", "s"])
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS inter"))
        .selectExpr(
            "d1",
            "d2",
            "CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard",
        )
        .where(f"jaccard >= {_NEAR_DUP_THRESHOLD}")
    )


#: DuckDB shingle CTE of the md5 oracles (sub-3-token docs have no
#: shingles, as ``_shingles`` leaves them empty)
_MD5_SH_SQL = """sh AS (
        SELECT doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
        WHERE LEN(w) >= 3
    )"""

#: DuckDB string-set Jaccard of the candidate pair (s1, s2)
_JACCARD_SQL = (
    "CAST(LEN(LIST_INTERSECT(s1.shingles, s2.shingles)) AS DOUBLE)"
    " / LEN(LIST_DISTINCT(s1.shingles || s2.shingles))"
)


def _md5_minhash_sql() -> str:
    """DuckDB CTEs ``sh``/``toks``/``sigs``: ``MD5_MINHASH`` signature
    columns h0..h31 per document."""
    hs = ",\n               ".join(
        f"CAST(MIN(CAST(('0x' || SUBSTR(MD5('{i}:' || s), 1, 15)) "
        f"AS UBIGINT)) AS BIGINT) AS h{i}"
        for i in range(_N_HASHES)
    )
    return f"""{_MD5_SH_SQL},
    toks AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    sigs AS (
        SELECT doc_id,
               {hs}
        FROM toks GROUP BY doc_id
    )"""


def _band_match_sql(a: str, b: str) -> str:
    """DuckDB predicate: signatures ``a`` and ``b`` agree on some band."""
    rows = _N_HASHES // _N_BANDS
    return "\n            OR ".join(
        "("
        + " AND ".join(
            f"{a}.h{rows * g + r} = {b}.h{rows * g + r}" for r in range(rows)
        )
        + ")"
        for g in range(_N_BANDS)
    )


@query(
    "q_dedup_minhash_native_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(d1 + d2), 0) AS BIGINT) AS key_sum,
           CAST(COALESCE(SUM(CAST(FLOOR(jaccard * 1e6 + 0.5) AS BIGINT)), 0)
                AS BIGINT) AS jq_sum,
           TRUE AS native_equals_exact,
           TRUE AS candidates_cover_exact
    FROM ({ORACLES["q_dedup_near"]}) exact
    """,
)
def q_dedup_minhash_native_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-pins the ``XXHASH_MINHASH`` plan the bench headline times
    (VERDICT r12 #4): the banding pipeline is run ON DATA and compared
    against the exact inverted-index pair set, in one frame the driver
    hash-verifies:

    - ``n_pairs`` / ``key_sum`` / ``jq_sum``: census of the native
      plan's verified pairs (count, id sum, per-pair 1e-6-quantized
      Jaccard sum) — the oracle recomputes them from the EXACT pair
      set, so they only hash-match when the native output IS the exact
      output, value for value;
    - ``native_equals_exact``: full-outer-join emptiness of the
      symmetric difference (and per-pair Jaccard equality);
    - ``candidates_cover_exact``: every exact pair was already a
      banding CANDIDATE — recall 1.0 at the candidate stage, so the
      verify stage (exact by construction) is the only filter.
    """
    docs = table(spark, sf_dir, "documents")
    shingled = _shingles(docs).cache()
    cand = minhash_candidates(shingled)
    nk = verify_candidates(cand, shingled).select(
        "d1",
        "d2",
        F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long").alias("njq"),
        F.lit(1).alias("__n"),
    )
    ek = _exact_pairs(shingled, _NEAR_DUP_THRESHOLD).select(
        "d1",
        "d2",
        F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long").alias("ejq"),
        F.lit(1).alias("__e"),
    )
    j = (
        nk.join(ek, ["d1", "d2"], "full_outer")
        .join(cand.withColumn("__c", F.lit(1)), ["d1", "d2"], "left")
    )
    return j.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("__n").isNotNull(), F.col("d1") + F.col("d2"))),
            F.lit(0),
        )
        .cast("long")
        .alias("key_sum"),
        F.coalesce(F.sum(F.when(F.col("__n").isNotNull(), F.col("njq"))), F.lit(0))
        .cast("long")
        .alias("jq_sum"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__n").isNull()
                        | F.col("__e").isNull()
                        | (F.col("njq") != F.col("ejq")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("native_equals_exact"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__e").isNotNull() & F.col("__c").isNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("candidates_cover_exact"),
    )


@query(
    "q_dedup_minhash_oracled",
    oracle=f"""
    WITH {_md5_minhash_sql()},
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE {_band_match_sql('a', 'b')}
    )
    SELECT d1, d2, {_JACCARD_SQL} AS jaccard
    FROM cand
    JOIN sh s1 ON d1 = s1.doc_id
    JOIN sh s2 ON d2 = s2.doc_id
    WHERE {_JACCARD_SQL} >= {_NEAR_DUP_THRESHOLD}
    """,
)
def q_dedup_minhash_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_pairs`` on ``MD5_MINHASH``: 32-way signatures, 8×4
    banding, candidate generation and exact-Jaccard verify hash-verify
    against the oracle end to end. (The oracle spells candidates as an
    O(n²) signature comparison because DuckDB has no explode-free
    banding idiom — the Spark side stays the banded equi-join.) Spark
    keys each band on the xxhash64 of its 4 values while the oracle
    compares the 4 values, so parity holds up to a 64-bit bucket
    collision: one would add a candidate, and a colliding pair with
    Jaccard ≥ 0.5 would be emitted by Spark only."""
    return minhash_pairs(table(spark, sf_dir, "documents"), MD5_MINHASH)


alias_query("q_dedup_minhash", "q_dedup_minhash_oracled")


# ---------------------------------------------------------------------------
# SimHash: bit-vote signature → banded equi-join → exact Hamming verify
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SimHashFamily:
    """A SimHash family: ``token_hash`` hashes one shingle ``tok`` (Spark
    SQL, a long), signatures keep ``bits`` vote bits, bands are
    ``band_bits`` wide and pairs verify at Hamming ≤ ``hamming_max``.

    With ``hamming_max`` below the band count the pigeonhole guarantee
    is COMPLETE: that many differing bits cannot touch every band, so
    every pair within the bound shares a band and banding recall w.r.t.
    the Hamming criterion is exactly 1.0 (the block-split scheme of
    Manku, Jain & Das Sarma, WWW 2007). Cost dial: b-bit band equality
    admits ~bands/2^b of random pairs as candidates — at 100 TB, widen
    bands or add a second-stage band refinement."""

    token_hash: str
    bits: int
    band_bits: int
    hamming_max: int


_HAMMING_MAX = 6
XXHASH_SIMHASH = SimHashFamily("xxhash64(tok)", 64, 8, _HAMMING_MAX)
#: 60-bit md5 feature hashes (bit-identical in DuckDB), 6 bands × 10 bits
MD5_SIMHASH = SimHashFamily(
    "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)", 60, 10, 5
)


def simhash_signature_frame(
    docs: DataFrame, family: SimHashFamily = XXHASH_SIMHASH
) -> DataFrame:
    """(doc_id, text) → (doc_id, simhash): bit i is set when the ±1 votes
    of the shingle hashes' bit i sum above zero.

    Shingle features, not bare words: on short-vocab corpora every word
    *set* is similar, so bag-of-words simhash collides globally; 3-gram
    shingles carry the sequence structure that distinguishes documents.
    The votes and the bit assembly are ONE aggregate expression (the
    ``_minhash_bands`` idiom): the column-DSL spelling built ~1k Column
    objects per plan build."""
    bits = " | ".join(
        f"IF(sum(IF((shiftright(h, {i}) & 1) = 1, 1, -1)) > 0,"
        f" shiftleft(1L, {i}), 0L)"
        for i in range(family.bits)
    )
    return (
        _shingles(docs)
        .selectExpr("doc_id", "explode(shingles) AS tok")
        .selectExpr("doc_id", f"{family.token_hash} AS h")
        .groupBy("doc_id")
        .agg(F.expr(f"{bits} AS simhash"))
    )


def simhash_pairs(
    docs: DataFrame, family: SimHashFamily = XXHASH_SIMHASH
) -> DataFrame:
    """(doc_id, text) → SimHash near-dup pairs (d1, d2, hamming): one
    band explode, bucket equi-join, Hamming verify of candidates only."""
    sigs = simhash_signature_frame(docs, family)
    width = family.band_bits
    structs = ", ".join(
        f"struct({b} AS band, shiftrightunsigned(simhash, {b * width})"
        f" & {(1 << width) - 1} AS bval)"
        for b in range(family.bits // width)
    )
    bands = sigs.select("doc_id", "simhash", F.expr(f"inline(array({structs}))"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr(
            "a.doc_id AS d1",
            "b.doc_id AS d2",
            "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming",
        )
        .where(f"hamming <= {family.hamming_max}")
        .distinct()
    )


def q_dedup_simhash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash_pairs`` on ``XXHASH_SIMHASH`` (64 bits, 8 bands of 8,
    Hamming ≤ 6); banding recall asserted against brute-force Hamming in
    tests/test_extensions.py."""
    return simhash_pairs(table(spark, sf_dir, "documents"))


def _md5_simhash_oracle() -> str:
    fam = MD5_SIMHASH
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(fam.bits)
    )
    sig = "\n                 + ".join(
        f"(CASE WHEN v{i} > 0 THEN {2**i}::BIGINT ELSE 0 END)"
        for i in range(fam.bits)
    )
    return f"""
    WITH {_MD5_SH_SQL},
    toks AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(s), 1, 15)) AS UBIGINT)::BIGINT AS h
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM toks GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id,
               {sig} AS sig
        FROM votes
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {fam.hamming_max}
    """


@query("q_dedup_simhash_oracled", oracle=_md5_simhash_oracle())
def q_dedup_simhash_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash_pairs`` on ``MD5_SIMHASH`` (60 bits, 6 bands × 10,
    Hamming ≤ 5): banding recall is exactly 1.0 by the pigeonhole
    argument, so the banded Spark plan provably equals the oracle's
    exhaustive pair scan — which is what lets a SIGNATURE-based dedup be
    value-hash-verified end to end."""
    return simhash_pairs(table(spark, sf_dir, "documents"), MD5_SIMHASH)


alias_query("q_dedup_simhash", "q_dedup_simhash_oracled")


def connected_min_labels(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over an undirected pair list → (id, cluster_id)
    where cluster_id = the minimum id reachable from each node.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds (near-dup clusters are shallow — a handful of rounds).
    Each round is one shuffle join keyed by node id over the *label* table
    (|V| rows = docs that appear in any pair, not the corpus), so the loop
    is cheap at any corpus scale. The driver-side loop only checks a
    convergence count — no data is collected.
    """
    edges = (
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .unionByName(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # localCheckpoint (eager) instead of cache: truncates the lineage so
        # round N's plan doesn't re-embed rounds 1..N-1 — keeps per-round
        # planning cost flat over the iteration count.
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


#: Recursive-CTE reachability oracle for cluster labels over the exact
#: near-dup pair graph — shared by ``q_dedup_clusters`` (min-label
#: propagation) and ``graph.q_graph_cc`` (large-star/small-star), which
#: must produce BIT-IDENTICAL labels by construction.
CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
    ),
    toks AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh),
    pairs AS (
        SELECT d1, d2 FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)
              >= {_NEAR_DUP_THRESHOLD}
    ),
    nodes AS (SELECT d1 AS id FROM pairs UNION SELECT d2 FROM pairs),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id,
           (MIN(r) = id) AS is_kept
    FROM reach GROUP BY id
    """


@query("q_dedup_clusters", oracle=CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: transitive closure over the exact pair list,
    keep-min-doc_id-per-cluster (SURVEY §2.4's connected-components-lite).

    Pairwise output alone under-deduplicates: if A~B and B~C but A≁C, the
    pair view keeps A and C as 'unique'. Cluster labels give the correct
    one-survivor-per-group semantics. Oracle = recursive-CTE reachability.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = _exact_pairs(_shingles(docs), _NEAR_DUP_THRESHOLD)
    labels = connected_min_labels(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_kept"),
    )


@query(
    "q_dedup_embed",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
        WHERE LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e), t -> t[1] * t[2]))
              / (SQRT(LIST_SUM(LIST_TRANSFORM(a.e, x -> x * x)))
                 * SQRT(LIST_SUM(LIST_TRANSFORM(b.e, x -> x * x)))) >= 0.45
    )
    SELECT v.vec_id,
           LEAST(v.vec_id, COALESCE(MIN(p.vb), v.vec_id)) AS canonical_id
    FROM v LEFT JOIN pairs p ON v.vec_id = p.va
    GROUP BY v.vec_id
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup canonicalization: each vector maps to the
    smallest vec_id within cosine ≥ 0.45 (itself if none).

    **sf-capped oracle baseline, not the scale operator**: the exact
    all-pairs generator exists to be DuckDB-checkable. At 100 TB swap it
    for the banded LSH bucket join (``similarity.q_sim_ann_lsh``'s
    candidate stage) and keep the same min-id canonicalization — the
    aggregation shape is unchanged. Both engines compute cosine with the
    same sequential double accumulation, so the threshold compare is
    bit-stable.
    """
    return embed_exact_canonical(_embed_vectors(spark, sf_dir))


def _embed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("nrm", _norm(F.col("e")))  # norm once per vector
    )


def _min_id_canonical(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Each vector → the smallest vec_id among itself and its (va → vb)
    verified neighbors."""
    return (
        emb.join(pairs, emb.vec_id == pairs.va, "left")
        .groupBy("vec_id")
        .agg(
            F.least(
                F.col("vec_id"), F.coalesce(F.min("vb"), F.col("vec_id"))
            ).alias("canonical_id")
        )
    )


def embed_exact_canonical(emb: DataFrame) -> DataFrame:
    """Exact all-pairs min-id canonicalization (see ``q_dedup_embed``)."""
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            (
                _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.45)
    )
    return _min_id_canonical(emb, pairs)


#: flagship-agreement floor (same value as q_approx_audit's embed floor:
#: measured 1.00 on the fixture corpora, ≈96% banding recall per pair)
_EMBED_AGREE_FLOOR = 0.95


def embed_lsh_canonical(emb: DataFrame, lsh: SignLSH = GAUSSIAN_LSH) -> DataFrame:
    """Banded sign-LSH canonicalization (see ``q_dedup_embed_lsh``):
    candidates from the (band, bucket) self-join, exactly cosine-verified,
    then the same min-id aggregation as the exact operator."""
    signed = banded_signatures(emb, lsh)
    buckets = signed.select(
        "vec_id", F.posexplode("bands").alias("band", "bval")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    # undirected candidate pairs (either orientation may supply the min id)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    sa = signed.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    sb = signed.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    pairs = (
        cand.join(sa, "va")
        .join(sb, "vb")
        .withColumn("cos", _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= 0.45)
        .select("va", "vb")
    )
    return _min_id_canonical(signed.select("vec_id"), pairs)


def _embed_lsh_oracle() -> str:
    # the exact twin's oracle (registered just above) + the hardcoded
    # contract verdict — DuckDB reproduces the exact side, the Spark
    # plan must land its in-plan agreement at TRUE to hash-match
    return (
        "SELECT vec_id, canonical_id, TRUE AS lsh_agrees FROM ("
        + ORACLES["q_dedup_embed"]
        + ")"
    )


@query("q_dedup_embed_lsh", oracle=_embed_lsh_oracle())
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding canonicalization via banded-LSH candidates — the scale
    twin that carries ``q_dedup_embed``'s operator contract at 100 TB
    (see ``embed_lsh_canonical`` for the plan: one (band, bucket)
    self-join instead of the O(n²) cross join, candidates exactly
    cosine-verified).

    Hash-verifiable hll-style (the ``q_agg_hll`` conversion, VERDICT r7
    #9): the emitted canonical_id column is the EXACT operator's (DuckDB
    reproduces it), and the sign-LSH path — which no SQL oracle can
    replay bit-for-bit — feeds an in-plan ``lsh_agrees`` verdict
    asserting ≥95% per-vector agreement with the exact canonicalization
    (measured 1.00 on the fixture corpora; ≈96% banding recall per true
    pair at cos 0.45 with 16×4 banding). The oracle asserts TRUE, so any
    silent recall regression in the engine-native hash family flips a
    hash-checked value. The exact side costs one all-pairs join at gate
    scale; the LSH path remains the scale story.
    """
    emb = _embed_vectors(spark, sf_dir).cache()  # feeds both twins
    exact = embed_exact_canonical(emb)
    lsh = embed_lsh_canonical(emb).select(
        "vec_id", F.col("canonical_id").alias("c_lsh")
    )
    agree = exact.join(lsh, "vec_id").agg(
        (
            F.avg((F.col("canonical_id") == F.col("c_lsh")).cast("double"))
            >= _EMBED_AGREE_FLOOR
        ).alias("lsh_agrees")
    )
    return exact.crossJoin(F.broadcast(agree))


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS in_corpus
        FROM documents
    ),
    sh AS (
        SELECT doc_id, in_corpus,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, in_corpus, STRING_SPLIT(text, ' ') AS w
              FROM split)
    ),
    toks AS (SELECT doc_id, in_corpus, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        FROM toks b JOIN toks c ON b.s = c.s
        WHERE NOT b.in_corpus AND c.in_corpus
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh)
    SELECT new_id, corpus_id,
           CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
    FROM inter
    JOIN sizes s1 ON new_id = s1.doc_id
    JOIN sizes s2 ON corpus_id = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)
          >= {_NEAR_DUP_THRESHOLD}
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which documents of a NEW batch near-
    duplicate something already in the corpus.

    The corpus/batch split is the content-addressed one from
    ``q_split_assign`` (md5 bucket < 'cd' ≈ 80% corpus, rest = new
    batch), so the query is fully deterministic and oracle-able. This is
    the asymmetric version of ``q_dedup_near``: only cross-set pairs
    (new × corpus) are produced — intra-corpus and intra-batch dups are
    out of scope, which is exactly the nightly-ingest contract.

    This exact inverted-index form is the sf-capped correctness
    baseline; ``q_dedup_incremental_lsh`` is the scale path (probe the
    corpus's PERSISTED band-bucket index with batch signatures — the
    corpus is never re-shingled at 100 TB).
    """
    return incremental_exact_pairs(spark, sf_dir)


#: the content-addressed corpus/batch split of ``q_split_assign`` (md5
#: bucket < 'cd' ≈ 80% corpus, rest = the new batch)
_IN_CORPUS = "substring(md5(CAST(doc_id AS STRING)), 1, 2) < 'cd'"


def incremental_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-set near-dup pairs (see ``q_dedup_incremental``)."""
    docs = table(spark, sf_dir, "documents")
    # the split flag is a pure projection of doc_id — recompute it on the
    # shingled frame rather than joining the split table back
    shingled = _shingles(docs).withColumn("in_corpus", F.expr(_IN_CORPUS))
    toks = shingled.select(
        "doc_id",
        "in_corpus",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s0"),
    ).select("doc_id", "in_corpus", "n", F.xxhash64("s0").alias("s"))
    toks = toks.hint("shuffle_hash").cache()
    b = toks.filter(~F.col("in_corpus")).alias("b")
    c = toks.filter(F.col("in_corpus")).alias("c")
    return (
        b.join(c, F.col("b.s") == F.col("c.s"))
        .groupBy(
            F.col("b.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
            F.col("b.n").alias("n1"),
            F.col("c.n").alias("n2"),
        )
        .agg(F.count("*").alias("inter"))
        .select(
            "new_id",
            "corpus_id",
            (
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _NEAR_DUP_THRESHOLD)
    )


#: flagship band-index recall floor (same value as q_approx_audit's:
#: measured 1.00 on the fixture corpora — planted dups sit well above
#: the banding knee)
_BAND_RECALL_FLOOR = 0.90


def _incremental_lsh_oracle() -> str:
    return (
        "SELECT new_id, corpus_id, jaccard, TRUE AS band_recall_ok FROM ("
        + ORACLES["q_dedup_incremental"]
        + ")"
    )


@query("q_dedup_incremental_lsh", oracle=_incremental_lsh_oracle())
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for ``q_dedup_incremental`` — the banded-probe ingest
    plan (see ``incremental_lsh_pairs``), made hash-verifiable hll-style
    (the ``q_agg_hll`` conversion, VERDICT r7 #9): the emitted pair rows
    are the EXACT operator's (DuckDB reproduces them) and the band-index
    path feeds an in-plan ``band_recall_ok`` verdict asserting ≥90%
    recall of the exact cross-set pairs (measured 1.00 on the fixture
    corpora). The oracle asserts TRUE, so a silent recall regression in
    the persisted-index path flips a hash-checked value. The exact side
    costs one inverted-index join at gate scale; the banded probe
    remains the scale story.
    """
    exact = incremental_exact_pairs(spark, sf_dir).cache()
    lsh = incremental_lsh_pairs(spark, sf_dir).select("new_id", "corpus_id")
    hits = exact.join(lsh, ["new_id", "corpus_id"], "left_semi").agg(
        F.count("*").alias("nh")
    )
    tot = exact.agg(F.count("*").alias("nt"))
    verdict = hits.crossJoin(tot).select(
        (F.col("nh") >= F.col("nt") * _BAND_RECALL_FLOOR).alias("band_recall_ok")
    )
    return exact.crossJoin(F.broadcast(verdict))


def incremental_lsh_pairs(
    spark: SparkSession, sf_dir: str, family: MinHashFamily = XXHASH_MINHASH
) -> DataFrame:
    """Banded-probe cross-set pairs (new_id, corpus_id, jaccard): the
    corpus side keeps a persisted MinHash band-bucket index (here
    rebuilt, in production stored); the NEW batch's band keys probe it
    with a bucket equi-join, then candidates are exact-verified. Cost per
    ingest is O(batch × bands) probe keys — the 100 TB corpus is touched
    only through its index. As in ``incremental_exact_pairs``, the split
    flag is computed on the band rows rather than joined back.
    """
    docs = table(spark, sf_dir, "documents")
    toks = _hash_tokens(_shingles(docs), family.text).cache()
    bands = _minhash_bands(toks, family).withColumn("in_corpus", F.expr(_IN_CORPUS))
    index = bands.where("in_corpus").selectExpr("doc_id AS d2", "band", "bucket")
    probe = bands.where("NOT in_corpus").selectExpr("doc_id AS d1", "band", "bucket")
    candidates = probe.join(index, ["band", "bucket"]).select("d1", "d2").distinct()
    return _verify_from_tokens(candidates, toks).selectExpr(
        "d1 AS new_id", "d2 AS corpus_id", "jaccard"
    )


@query(
    "q_graph_degree",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
    ),
    toks AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh),
    pairs AS (
        SELECT d1, d2 FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)
              >= {_NEAR_DUP_THRESHOLD}
    ),
    nodes AS (
        SELECT d1 AS id FROM pairs UNION ALL SELECT d2 FROM pairs
    ),
    degrees AS (SELECT id, COUNT(*) AS degree FROM nodes GROUP BY id)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM degrees GROUP BY degree
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph.

    The capacity-planning query you run BEFORE connected components at
    100 TB: a heavy tail here predicts giant components and tells you
    whether min-label propagation will converge in few rounds or needs
    a two-level (local then global) pass. Degrees come from one
    symmetric projection + two keyed aggregations of the exact pair
    list — the same shuffle shape regardless of corpus size.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = _exact_pairs(_shingles(docs), _NEAR_DUP_THRESHOLD)
    nodes = pairs.select(F.col("d1").alias("id")).unionAll(
        pairs.select(F.col("d2").alias("id"))
    )
    return (
        nodes.groupBy("id")
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(F.col("degree").cast("long").alias("degree"), "n_nodes")
    )


#: tokens of leading text used as the prefix-dedup key
_PREFIX_TOKENS = 16


@query(
    "q_dedup_prefix",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:{_PREFIX_TOKENS}],
                                   ' ')) AS prefix_key
        FROM documents
    ),
    counted AS (
        SELECT *, COUNT(*) OVER (PARTITION BY prefix_key) AS n_copies,
               MIN(doc_id) OVER (PARTITION BY prefix_key) AS canonical_id
        FROM keyed
    )
    SELECT doc_id, prefix_key, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(canonical_id AS BIGINT) AS canonical_id,
           doc_id = canonical_id AS is_canonical
    FROM counted
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix deduplication: documents sharing their first
    ``_PREFIX_TOKENS`` tokens collapse to one canonical copy — the
    boilerplate catcher for templated pages (identical lead paragraphs,
    differing tails) that full-content fingerprints (``q_dedup_weights``)
    and shingle LSH both treat as distinct.

    Plan: one window over the 16-byte prefix hash — identical shuffle
    shape to ``q_dedup_weights`` (hashes move, documents don't); the two
    are complementary passes of the same dedup stage and share cost at
    100 TB (one shuffle each on a 16-byte key).
    """
    d = table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, _PREFIX_TOKENS))
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("prefix_key")
    return (
        d.select("doc_id", key.alias("prefix_key"))
        .withColumn("n_copies", F.count("*").over(w).cast("long"))
        .withColumn("canonical_id", F.min("doc_id").over(w).cast("long"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )


#: char-n-gram dedup parameters: gram width, md5-nibble sampling (keep
#: grams whose md5 starts '0' → 1/16, content-addressed and identical in
#: both engines), a document-frequency cap on index grams (char grams are
#: Zipf-heavy — " the " sits in nearly every English doc, and one such
#: gram makes the inverted-index self-join quadratic in corpus size;
#: rare grams carry all the near-dup signal, so the index keeps only
#: grams with df <= cap), and the Jaccard threshold on the kept sets.
_CHARGRAM_N = 5
_CHARGRAM_KEEP_PREFIX = "0"
_CHARGRAM_MAX_DF = 50
_CHARGRAM_THRESHOLD = 0.5


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH sampled AS (
        SELECT DISTINCT doc_id, g.s FROM (
            SELECT doc_id,
                   SUBSTR(text, i.i, {_CHARGRAM_N}) AS s
            FROM documents,
                 UNNEST(GENERATE_SERIES(1, LENGTH(text) - {_CHARGRAM_N - 1}))
                     AS i(i)
            WHERE LENGTH(text) >= {_CHARGRAM_N}
        ) g(doc_id, s)
        WHERE SUBSTR(MD5(g.s), 1, 1) = '{_CHARGRAM_KEEP_PREFIX}'
    ),
    grams AS (
        SELECT doc_id, s FROM sampled
        WHERE s IN (SELECT s FROM sampled GROUP BY s
                    HAVING COUNT(*) <= {_CHARGRAM_MAX_DF})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM grams a JOIN grams b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
           CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter)
          >= {_CHARGRAM_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram Jaccard near-duplicate pairs — the
    tokenization-free member of the dedup family (``q_dedup_near`` is
    word-shingle based; char grams additionally catch near-dups that
    differ in whitespace/punctuation segmentation, the common case for
    template boilerplate and markup-mangled crawls).

    Scale design: a raw char-gram inverted index is ~|text| postings per
    doc — an order of magnitude heavier than word shingles. The standard
    fix applied here is content-addressed gram SAMPLING before the index:
    keep only grams whose md5 starts with '0' (1/16, deterministic, the
    0-mod-p trick from winnowing/MinHash literature), so the index and
    its self-join shrink 16× while sampled-set Jaccard stays an unbiased
    estimate of true Jaccard (each distinct gram is kept or dropped
    identically for every doc). The sampled sets then flow through the
    same single-shuffle inverted-index join as ``q_dedup_near``
    (``_exact_pairs``) — and the estimate itself is EXACT integer
    arithmetic on the sampled sets, so the oracle hash-verifies it.
    """
    return chargram_pairs(table(spark, sf_dir, "documents"))


def chargram_pairs(docs: DataFrame) -> DataFrame:
    """Sampled + df-capped char-n-gram Jaccard pair plan over a documents
    frame (see ``q_dedup_ngram_jaccard``); reused by
    ``tools/scale_stress.py``.

    Two index-pruning stages before the self-join: (1) md5-nibble gram
    sampling (16x smaller index, unbiased), (2) a document-frequency cap
    that drops stop-grams — without it one ubiquitous gram's posting
    list makes the join quadratic in corpus size (measured: the 10x
    stress run never finished pre-cap). Set sizes are counted AFTER both
    prunes so the Jaccard is exactly the oracle's rare-gram Jaccard.
    """
    d = spread(docs).filter(F.length("text") >= _CHARGRAM_N)
    grams = F.array_distinct(
        F.filter(
            F.expr(
                f"transform(sequence(1, length(text) - {_CHARGRAM_N - 1}),"
                f" i -> substring(text, i, {_CHARGRAM_N}))"
            ),
            lambda s: F.substring(F.md5(s), 1, 1) == _CHARGRAM_KEEP_PREFIX,
        )
    )
    # exploded sampled index on 8-byte hashes (the oracle joins strings
    # and would catch a collision)
    toks = (
        d.select("doc_id", F.explode(grams).alias("s0"))
        .select("doc_id", F.xxhash64("s0").alias("s"))
    )
    rare = (
        toks.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _CHARGRAM_MAX_DF)
        .select("s")
    )
    kept = toks.join(rare, "s", "left_semi")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    # set sizes travel WITH the token rows (same trick as _exact_pairs):
    # a doc-keyed shuffle join, never a broadcast of a |docs|-sized frame
    withn = kept.join(sizes, "doc_id").hint("shuffle_hash").cache()
    a = withn.select(
        F.col("doc_id").alias("d1"), F.col("n").alias("n1"), "s"
    )
    b = withn.select(
        F.col("doc_id").alias("d2"), F.col("n").alias("n2"), "s"
    )
    return (
        a.join(b, (a.s == b.s) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count("*").alias("inter"))
        .select(
            "d1",
            "d2",
            F.col("inter").cast("long").alias("inter"),
            (
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _CHARGRAM_THRESHOLD)
    )


#: union-sketch parameters: 128 hashes → |est − exact| ≤ 3/√128 ≈ 0.27
#: at 3σ (deterministic for fixed input; asserted in the verdict column).
_UNION_HASHES = 128
_UNION_BOUND = 0.27


@query(
    "q_minhash_union_sketch",
    oracle=f"""
    WITH sh AS (
        SELECT source, doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT source, doc_id, STRING_SPLIT(text, ' ') AS w
              FROM documents)
    ),
    ss AS (SELECT DISTINCT source, UNNEST(shingles) AS s FROM sh),
    sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
    pairs AS (
        SELECT s1.source AS source_a, s2.source AS source_b,
               s1.n AS n_a, s2.n AS n_b
        FROM sizes s1 JOIN sizes s2 ON s1.source < s2.source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS inter
        FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
           CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
           CAST(COALESCE(i.inter, 0) AS DOUBLE)
               / (p.n_a + p.n_b - COALESCE(i.inter, 0)) AS jaccard,
           TRUE AS within_bounds
    FROM pairs p
    LEFT JOIN inter i ON p.source_a = i.source_a AND p.source_b = i.source_b
    """,
)
def q_minhash_union_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable MinHash sketches with a genuine two-level merge: per-DOC
    signatures (the unit you would persist per partition/day at 100 TB)
    element-wise-min-merged into per-SOURCE sketches, then every source
    pair's Jaccard estimated from sketch agreement — the
    corpus-similarity matrix that drives mix dedup ("is src7 a mirror of
    src3?") without ever joining raw shingle sets across sources.

    min(union A∪B) = min(min A, min B) makes the merge exact, so the
    source sketch from merged doc sketches equals the sketch built from
    the source's full shingle set. The estimate (fraction of agreeing
    components) is implementation-specific, so the verdict convention
    applies: the query also computes the EXACT per-pair Jaccard
    (hash-verified against DuckDB) and asserts |est − exact| ≤ 3/√k in
    ``within_bounds``. The exact side shuffles distinct (source,
    shingle-hash) rows once; the sketch side shuffles only k·|sources|
    rows — the part that survives at scale.
    """
    d = spread(table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    sh = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                    F.element_at(w, i + 3),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = d.select("source", "doc_id", sh.alias("shingles")).cache()

    # level 1: per-doc signatures. Row-local higher-order form (NOT the
    # 128-column min-aggregate of ``_minhash_bands`` — at k=128 that
    # many aggregate expressions exceeds codegen method limits and drops
    # to interpreted mode): sig[i] = min over shingles of xxhash64(i, s),
    # computed entirely inside the scan stage.
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(_UNION_HASHES - 1)),
        lambda i: F.array_min(
            F.transform(F.col("shingles"), lambda sv: F.xxhash64(i, sv))
        ),
    )
    doc_sigs = shingled.filter(F.size("shingles") > 0).select(
        "source", "doc_id", sig.alias("sig")
    )
    # level 2: element-wise min per source (the mergeable-union step)
    src_sketch = (
        doc_sigs.select("source", F.posexplode("sig").alias("i", "h"))
        .groupBy("source", "i")
        .agg(F.min("h").alias("h"))
    )
    a, b = src_sketch.alias("a"), src_sketch.alias("b")
    est = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            (
                F.sum((F.col("a.h") == F.col("b.h")).cast("long"))
                / F.lit(float(_UNION_HASHES))
            ).alias("est")
        )
    )

    # exact side: distinct (source, shingle) via the same 8-byte hash
    # trick as _exact_pairs (oracle joins on strings and would catch a
    # collision)
    ss = (
        shingled.select("source", F.explode("shingles").alias("s0"))
        .select("source", F.xxhash64("s0").alias("s"))
        .distinct()
        .cache()
    )
    sizes = ss.groupBy("source").agg(F.count("*").alias("n"))
    ea, eb = ss.alias("ea"), ss.alias("eb")
    inter = (
        ea.join(
            eb,
            (F.col("ea.s") == F.col("eb.s"))
            & (F.col("ea.source") < F.col("eb.source")),
        )
        .groupBy(
            F.col("ea.source").alias("source_a"),
            F.col("eb.source").alias("source_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    pairs = F.broadcast(sa).crossJoin(F.broadcast(sb)).filter(
        F.col("source_a") < F.col("source_b")
    )
    exact = (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)).cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
    )
    return (
        exact.join(F.broadcast(est), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "inter",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "jaccard",
            (
                F.abs(F.coalesce("est", F.lit(0.0)) - F.col("jaccard"))
                <= F.lit(_UNION_BOUND)
            ).alias("within_bounds"),
        )
    )


@query(
    "q_dedup_url",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               CONCAT('https://', upper(source), '.Example.COM/', lang,
                      '/doc/', CAST(doc_id % 97 AS VARCHAR),
                      '?utm_source=feed&id=', CAST(doc_id % 97 AS VARCHAR),
                      '&ref=rss#sec-', CAST(doc_id % 5 AS VARCHAR)) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               CONCAT('https://',
                      LOWER(REGEXP_EXTRACT(url, '^[a-z]+://([^/?#]+)', 1)),
                      REGEXP_EXTRACT(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                      '?id=', REGEXP_EXTRACT(url, '[?&]id=([^&#]*)', 1))
               AS canonical_url
        FROM urls
    )
    SELECT canonical_url,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_dups
    FROM canon
    GROUP BY canonical_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first pass of every web-crawl
    pipeline: the same page arrives under mixed-case hosts, tracking
    parameters (``utm_*``, ``ref``) and fragments, so raw-string dedup
    under-merges. Canonical form = lowercased host + path + the sorted
    retained query params (here the single content-identifying ``id``),
    dropping tracking params and the fragment; then keep-min-doc_id per
    canonical URL.

    Scale notes: canonicalization is stateless codegen'd string work at
    the scan, and the only shuffle groups by the canonical URL string —
    at 100 TB that key is ~60 bytes and near-uniform (hosts × paths), so
    no skew handling is needed; the map-side partial aggregate collapses
    each task's duplicates before the exchange.
    """
    from ..catalog import table as _table

    docs = _table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.upper("source"),
        F.lit(".Example.COM/"),
        F.col("lang"),
        F.lit("/doc/"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("&ref=rss#sec-"),
        (F.col("doc_id") % 5).cast("string"),
    )
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url(url, F.lit("HOST"))),
        F.parse_url(url, F.lit("PATH")),
        F.lit("?id="),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")),
    )
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


#: blocking-key cap: blocks holding more distinct entity names than this
#: are dropped from candidate generation entirely (r14, the df-cap
#: discipline of the whole posting-list family) — a mega-block
#: ("everything named widget") is boilerplate whose O(|block|²)
#: candidates are quadratic noise, exactly like a stop-gram's posting
#: list. TPC-H head-noun blocks hold ≤ 8 names at any SF.
_FUZZY_MAX_BLOCK = 1024


@query(
    "q_fuzzy_match",
    oracle=f"""
    WITH names AS (
        SELECT p_name, COUNT(*) AS n_rows
        FROM part GROUP BY p_name
    ),
    blocked AS (
        SELECT p_name, n_rows, STRING_SPLIT(p_name, ' ')[-1] AS noun
        FROM names
    ),
    small AS (
        SELECT noun FROM blocked GROUP BY noun
        HAVING COUNT(*) <= {_FUZZY_MAX_BLOCK}
    )
    SELECT a.noun AS block_key,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INT) AS editdist,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM blocked a
    JOIN small sa ON a.noun = sa.noun
    JOIN blocked b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (the blocking + verify loop of every
    entity-resolution pipeline): candidate product-name pairs come only
    from the same BLOCK (shared head noun — the classic "sorted
    neighborhood" key), then an exact Levenshtein ≤ 3 verify keeps real
    near-matches; each survivor carries both entities' row counts (the
    merge-impact signal a resolution pipeline ranks by).

    Scale shape: the pair space is never formed — the distinct-entity
    frame (names + counts, already tiny relative to facts: one partial
    aggregate collapses the fact table) self-joins ONLY within blocks,
    so candidates are Σ|block|² over blocks — and block size is CAPPED
    (``_FUZZY_MAX_BLOCK``) before the pair join, so a mega-block
    (everything named "widget") is dropped rather than joined
    quadratically (plan-asserted by ``test_pair_join_caps_precede_
    fanout``); the expensive distance runs on candidates only.
    ``levenshtein`` is the same DP metric in Spark and DuckDB, so
    the verify threshold is engine-exact.
    """
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_rows"))
        .withColumn("noun", F.element_at(F.split("p_name", " "), -1))
    )
    small = (
        names.groupBy("noun")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= _FUZZY_MAX_BLOCK)
        .select("noun")
    )
    names = names.join(small, "noun", "left_semi")
    a = names.select(
        F.col("noun").alias("block_key"),
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("n_rows_a"),
    )
    b = names.select(
        F.col("noun").alias("block_key"),
        F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("n_rows_b"),
    )
    return (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "editdist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("editdist") <= 3)
        .select(
            "block_key", "name_a", "name_b", "editdist", "n_rows_a", "n_rows_b"
        )
    )


# ---------------------------------------------------------------------------
# Cross-source priority dedup (curated source wins over crawl)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_cross_source",
    oracle="""
    WITH ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY MD5(text)
                   ORDER BY COALESCE(TRY_CAST(
                       REGEXP_EXTRACT(source, '([0-9]+)', 1) AS INT), 999),
                       doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM ranked GROUP BY source
    """,
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup with a source-priority keep rule: among
    documents sharing a content hash, the copy from the most-curated
    source (lowest numeric source suffix; doc_id tiebreak) survives —
    the standard "prefer curated over crawl" policy when the same text
    is ingested from multiple feeds — reported as a per-source
    kept/dropped census.

    Scale shape: rows are reduced to (md5 key, source, doc_id) BEFORE
    the shuffle — 16-byte content keys plus metadata, never document
    bytes (the same invariant as ``q_dedup_exact``). One window keyed
    on the content hash (row_number over a total order, so the survivor
    is unique and engine-independent), then a per-source re-aggregation
    whose key space is |sources|. Content-hash keys cannot skew unless
    the corpus is one giant duplicate class, and the window state per
    key is O(1).
    """
    return cross_source_census(spread(table(spark, sf_dir, "documents")))


def cross_source_census(d: DataFrame) -> DataFrame:
    """Priority-dedup census plan over a documents frame (shared with
    ``tools/scale_stress.py``)."""
    prio = F.coalesce(
        F.regexp_extract(F.col("source"), r"([0-9]+)", 1).try_cast("int"),
        F.lit(999),
    )
    slim = d.select(
        F.md5(F.col("text")).alias("k"), "source", "doc_id", prio.alias("prio")
    )
    rn = F.row_number().over(
        W.partitionBy("k").orderBy(F.col("prio").asc(), F.col("doc_id").asc())
    )
    ranked = slim.withColumn("rn", rn)
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
    )


@query(
    "q_dedup_embed_lsh_oracled",
    oracle=f"""
    WITH {_md5_bands_sql()},
    cand AS (
        SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bval = b.bval
        WHERE a.vec_id <> b.vec_id
    ),
    pairs AS (
        SELECT c.va, c.vb
        FROM cand c
        JOIN v x ON x.vec_id = c.va
        JOIN v y ON y.vec_id = c.vb
        WHERE {_SQL_COS.format(a='x.e', b='y.e')} >= 0.45
    )
    SELECT v.vec_id,
           LEAST(v.vec_id, COALESCE(MIN(p.vb), v.vec_id)) AS canonical_id
    FROM v LEFT JOIN pairs p ON p.va = v.vec_id
    GROUP BY v.vec_id
    """,
)
def q_dedup_embed_lsh_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embed_lsh_canonical`` on ``similarity.MD5_LSH``: quantize → md5
    hyperplane banding → undirected bucket self-join → exact cosine
    verify (≥0.45) → min-neighbor canonical ids, hash-verified against
    DuckDB bit for bit."""
    return embed_lsh_canonical(_embed_vectors(spark, sf_dir), MD5_LSH)


@query(
    "q_dedup_incremental_lsh_oracled",
    oracle=f"""
    WITH {_md5_minhash_sql()},
    side AS (
        SELECT doc_id,
               SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS in_corpus
        FROM documents
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
        FROM sigs b
        JOIN side sb ON sb.doc_id = b.doc_id AND NOT sb.in_corpus
        JOIN sigs c ON ({_band_match_sql('b', 'c')})
        JOIN side sc ON sc.doc_id = c.doc_id AND sc.in_corpus
    )
    SELECT new_id, corpus_id, {_JACCARD_SQL} AS jaccard
    FROM cand
    JOIN sh s1 ON new_id = s1.doc_id
    JOIN sh s2 ON corpus_id = s2.doc_id
    WHERE {_JACCARD_SQL} >= {_NEAR_DUP_THRESHOLD}
    """,
)
def q_dedup_incremental_lsh_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_lsh_pairs`` on ``MD5_MINHASH``: the batch's band keys
    probe the corpus index, candidates are exact-Jaccard verified — the
    whole index-probe pipeline hash-verifies against DuckDB, up to a
    64-bit band-bucket collision as in ``q_dedup_minhash_oracled``."""
    return incremental_lsh_pairs(spark, sf_dir, MD5_MINHASH)


@query(
    "q_dedup_containment",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in RANGE(1, LEN(w) - 1)]) AS shingles
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
        WHERE LEN(w) >= 3
    ),
    toks AS (SELECT doc_id, LEN(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2,
               COUNT(*) AS inter
        FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT d1, d2,
           CAST(inter AS BIGINT) AS inter,
           CAST((inter * 1000000) // LEAST(n1, n2) AS BIGINT)
               AS containment_fp
    FROM pairs
    WHERE inter * 10 >= 8 * LEAST(n1, n2)
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET detection: containment |A∩B| / min(|A|,|B|) ≥ 0.8.

    Jaccard misses the quote/excerpt case — a short document wholly
    contained in a long one scores low Jaccard but containment ≈ 1. This
    is the statistic LLM-corpus pipelines use to catch boilerplate
    inclusions and quoted reposts (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" uses the same family).
    Same one-shuffle inverted-index shape as ``_pair_overlap``; both the
    threshold predicate and the reported score are pure integer
    arithmetic (scaled by 1e6), so the result is engine-exact with no
    float rounding convention needed.
    """
    overlap = _pair_overlap(_shingles(table(spark, sf_dir, "documents")))
    return (
        overlap.filter(
            F.col("inter") * 10 >= 8 * F.least("n1", "n2")
        ).select(
            "d1",
            "d2",
            "inter",
            # integer DIV, not `/` + cast: keeps the fixed-point score an
            # exact rational floor in both engines (no double rounding)
            F.expr("CAST((inter * 1000000) DIV LEAST(n1, n2) AS BIGINT)").alias(
                "containment_fp"
            ),
        )
    )


@query(
    "q_dedup_semantic_cluster",
    oracle="""
    WITH RECURSIVE v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e), t -> t[1] * t[2]))
              / (SQRT(LIST_SUM(LIST_TRANSFORM(a.e, x -> x * x)))
                 * SQRT(LIST_SUM(LIST_TRANSFORM(b.e, x -> x * x)))) >= 0.45
    ),
    nodes AS (SELECT va AS id FROM pairs UNION SELECT vb FROM pairs),
    edges AS (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS vec_id, MIN(r) AS cluster_id,
           (MIN(r) = id) AS is_kept
    FROM reach GROUP BY id
    """,
)
def q_dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate CLUSTERS: transitive closure over the cosine ≥
    0.45 pair graph, one survivor (min vec_id) per component.

    ``q_dedup_embed``'s canonicalization only looks one hop (min direct
    neighbor), which splits chains A~B~C into two survivors; cluster
    labels give the correct one-per-group semantics — the embedding-side
    mirror of ``q_dedup_clusters``. Exact all-pairs is the sf-capped
    oracle baseline; at 100 TB the pair stage swaps for the banded-LSH
    candidate join (``q_dedup_embed_lsh``). The component labels come
    from the LARGE-STAR/SMALL-STAR alternation
    (``graph.connected_components_star``, round 8) — O(log n) rounds on
    any component shape, vs the O(diameter) min-label propagation that
    ``q_dedup_clusters`` keeps registered as the comparison spelling;
    both produce identical min-id labels by construction. Cosine uses
    the same sequential double accumulation in both engines, so the
    threshold compare is bit-stable.
    """
    from .graph import connected_components_star

    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (
        _norm(F.col("a.e")) * _norm(F.col("b.e"))
    )
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.45)
        .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
    )
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("id").alias("vec_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": remove verbatim token
# spans that repeat across documents — the highest-leverage exact-dedup
# pass after whole-document hashing)
# ---------------------------------------------------------------------------

#: token-gram width for substring dedup: spans shorter than this many
#: whitespace tokens are noise (stock phrases); the paper uses 50 BPE
#: tokens, scaled here to the synthetic corpus' short documents
_SUBSTR_K = 8


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, i, MD5(ARRAY_TO_STRING(ws[i:i+{_SUBSTR_K - 1}], ' ')) AS gk
      FROM words, UNNEST(GENERATE_SERIES(1, LEN(ws) - {_SUBSTR_K - 1})) AS t(i)
      WHERE LEN(ws) >= {_SUBSTR_K}
    ),
    dup AS (
      SELECT doc_id, i FROM grams
      WHERE gk IN (SELECT gk FROM grams GROUP BY gk
                   HAVING COUNT(DISTINCT doc_id) >= 2)
    ),
    lagged AS (
      SELECT doc_id, i,
             COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i),
                      -{_SUBSTR_K + 10}) AS prev_i
      FROM dup
    ),
    islands AS (
      SELECT doc_id, i,
             SUM(CASE WHEN i - prev_i > {_SUBSTR_K} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM lagged
    ),
    spans AS (
      SELECT doc_id, island, MIN(i) AS s, MAX(i) + {_SUBSTR_K - 1} AS e
      FROM islands GROUP BY doc_id, island
    )
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           CAST(ANY_VALUE(LEN(w.ws)) AS BIGINT) AS total_tokens
    FROM spans sp JOIN words w ON sp.doc_id = w.doc_id
    GROUP BY sp.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection: every ``_SUBSTR_K``-token
    gram that appears verbatim in >= 2 distinct documents marks its
    positions as duplicated; per document, overlapping/adjacent
    duplicated grams merge into MAXIMAL spans (gaps-and-islands over
    gram start positions), reported as (span count, duplicated tokens,
    total tokens). This is the exact-substring pass of Lee et al. 2022
    — the dedup stage that catches boilerplate shared across otherwise
    distinct pages, which whole-doc hashing (``q_dedup_exact``) and
    MinHash (``q_dedup_minhash``) both miss.

    Scale plan (the suffix-array of the paper, re-expressed as two
    linear shuffles): (1) gram positions stream out of the scan stage
    via ``transform(sequence(...))`` + ``posexplode`` — JVM codegen,
    no Python; (2) cross-doc duplication is ``min(doc) != max(doc)``
    over a window on the 16-byte gram hash — O(1) aggregation state on
    ONE shuffle of the gram frame (the groupBy-countDistinct +
    semi-join spelling explodes and shuffles the grams twice; the A/B
    in the function body measured it ~1.9x slower); (3) the island
    merge is one window partitioned by ``doc_id`` — bounded by
    document length, never corpus-wide. At 100 TB each shuffle carries
    (doc_id, pos, 16-byte key) rows; the Zipf-head gram (shared by
    millions of docs) sorts within one task either way — the window
    adds no skew the join spelling didn't have.
    """
    return substring_spans(table(spark, sf_dir, "documents"))


def substring_spans(d: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """Reusable plan behind ``q_dedup_substring`` (also the
    ``substring_spans`` scale-stress shape): duplicated k-token-gram
    spans per document over any (doc_id, text) frame, aggregated to one
    row per affected document."""
    spans = dup_span_ranges(d, k)
    return spans.groupBy("doc_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_spans"),
        F.expr("CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens"),
        F.expr("CAST(first(total_tokens) AS BIGINT) AS total_tokens"),
    )


def dup_span_ranges(d: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """Maximal duplicated-span token ranges per document:
    (doc_id, s, e, total_tokens), 1-based inclusive token positions."""
    # selectExpr/SQL-window spellings throughout this builder (r15,
    # guide §7.3): the column-DSL form cost ~670 py4j round trips per
    # plan build (~0.45s of the headline's timed runs); the fused
    # strings build the identical expression tree in ~a tenth of the
    # calls.
    words = d.selectExpr("doc_id", "split(text, ' ') AS ws").where(
        f"size(ws) >= {k}"
    )
    # gram key: xxhash64 (8 bytes) rather than md5 (32-char hex string) —
    # the key is INTERNAL (never in the output; the oracle verifies the
    # final spans, not the hash), so the r14 swap halves the bytes of the
    # one corpus-sized shuffle and replaces a per-gram MessageDigest +
    # hex-string allocation with a native long hash (guide §2.3).
    # Scale bound (ADVICE r14): a 64-bit gram collision FABRICATES a
    # false duplicate span (unlike MinHash, where it only perturbs an
    # approximation), and P ≈ n²/2⁶⁵ means ~0.3% at n=1e8 distinct
    # grams and ~27% at n=1e9 — the 64-bit key is safe up to roughly
    # 10⁸ distinct grams per corpus. Past that, key on
    # struct(xxhash64(g), xxhash64(1, g)) (128 bits, P back to
    # negligible at any real corpus size) at the cost of doubling the
    # gram shuffle's key bytes; at the gate SFs the oracle's
    # string-space twin would flag any collision, and it stays green.
    grams = words.selectExpr(
        "doc_id",
        "CAST(size(ws) AS BIGINT) AS total_tokens",
        f"posexplode(transform(sequence(1, size(ws) - {k - 1}),"
        f" i -> xxhash64(concat_ws(' ', slice(ws, i, {k}))))) AS (p, gk)",
    ).selectExpr("doc_id", "total_tokens", "p + 1 AS i", "gk")

    # a gram is cross-doc duplicated iff min(doc)!=max(doc) over its hash
    # — an O(1)-state window on ONE shuffle of the gram frame, vs the
    # groupBy-countDistinct + semi-join spelling that explodes the grams
    # twice and shuffles them twice (A/B at sf0.1: 1.44s vs 2.72s warm)
    dup = grams.selectExpr(
        "*",
        "min(doc_id) OVER (PARTITION BY gk) AS mn",
        "max(doc_id) OVER (PARTITION BY gk) AS mx",
    ).where("mn != mx").drop("mn", "mx")

    islands = dup.selectExpr(
        "*",
        f"coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i),"
        f" {-(k + 10)}) AS prev_i",
    ).selectExpr(
        "*",
        f"sum(CASE WHEN i - prev_i > {k} THEN 1 ELSE 0 END)"
        " OVER (PARTITION BY doc_id ORDER BY i"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island",
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.expr("min(i) AS s"),
            F.expr(f"max(i) + {k - 1} AS e"),
            F.expr("first(total_tokens) AS total_tokens"),
        )
        .select("doc_id", "s", "e", "total_tokens")
    )
