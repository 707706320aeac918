"""§2.K (dedup half) + round-2 extensions — corpus deduplication.

EXT ops (the reference has no corpus tooling): exact-hash dedup,
MinHash-LSH near-dup, SimHash near-dup, and LSH-candidate exact-Jaccard
verification. All follow the cross-engine determinism convention of SURVEY
§2.K: hash families are md5/sha2 of UTF-8 strings, identical bit-for-bit
in Spark and DuckDB, so even the "approximate" ops have EXACT oracles.

Scale notes (100 TB):
- dedup_exact is one groupBy on a 256-bit hash — perfectly distributed
  shuffle key, map-side combine collapses duplicates before the wire.
- MinHash signatures are computed ARRAY-SIDE per document (no explode;
  ``array_min`` is duplicate-insensitive so no O(k²) ``array_distinct``
  either), after a hash-repartition that spreads the interpreted md5
  lambdas across cores.
- Candidate generation is BANDED (4 bands × 4 sigs hashed to one band
  key), not per-seed bucket joins: a single hyper-common shingle makes one
  seed's min collide across thousands of docs (a 3866-doc bucket at sf0.1
  → 15M join rows); requiring 4 simultaneous mins to agree collapses those
  degenerate buckets while keeping true near-dup families. This is the
  standard LSH answer to hot buckets, and the op's DEFINITION (oracle
  included) is the banded one.
- Verification never fans out: shared-signature counts compare the two
  16-column signature rows directly; Jaccard runs only on band candidates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, width
from ..registry import op

N_HASHES = 16  # MinHash signature length
N_BANDS = 4  # 4 bands × 4 sigs each
N_SHARED_MIN = 8  # near-dup verdict: ≥8/16 signatures shared
JACCARD_MIN = 0.5

_SHINGLE_SQL_SPARK = "transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"
_SHINGLE_SQL_DUCK = "list_transform(generate_series(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"

# The shared signature/band/candidate construction, mirrored in both
# dialects and assembled programmatically so the two stay in lockstep.
_SIG_COLS_DUCK = ",\n             ".join(
    f"list_aggregate(list_transform({_SHINGLE_SQL_DUCK}, x -> md5('{s}|' || x)), 'min') AS s{s}"
    for s in range(N_HASHES)
)
_BAND_KEYS_DUCK = " ".join(
    f"WHEN {b} THEN md5(" + " || '|' || ".join(f"s{4 * b + j}" for j in range(4)) + ")"
    for b in range(N_BANDS)
)
_N_SHARED_DUCK = " + ".join(f"(CASE WHEN a.s{s} = b.s{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES))

_CAND_CTE_DUCK = f"""
    WITH sig AS (
      SELECT doc_id,
             {_SIG_COLS_DUCK}
      FROM documents
    ), banded AS (
      SELECT doc_id, b.b, CASE b.b {_BAND_KEYS_DUCK} END AS band_key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS b) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    )
"""


_MINHASH_PREFIXES = [f"{s}|".encode() for s in range(N_HASHES)]


_U64_MAX = None  # initialized lazily with numpy in _minhash_doc


def _minhash_doc(t: str | None, cache: dict, want_shingles: bool):
    """Per-document MinHash core: -> (16 hex mins | None, shingle list |
    None). Bit-identical to the declarative form (minhash_sig_wide_expr):
    the 5-char shingles are deduped (array_min is duplicate-insensitive),
    each unique shingle is hashed once per seed with hashlib (C md5 over
    the same UTF-8 bytes Spark's ``md5(concat('{s}|', x))`` hashes), and
    the lexicographic min per seed is the signature. A 16-byte md5 digest
    is cached as a (hi, lo) pair of BIG-ENDIAN-read uint64s, on which
    (hi, then lo among hi-ties) numeric order IS the digest's
    byte-lexicographic order — so the per-seed min over all
    shingles is two vectorized numpy column-min passes instead of the
    16·|shingles| interpreted compare loop, and only the 16 winners pay a
    hex rendering (hex is a monotone byte map, so hex order agrees too).
    The shingle->u64-pairs ``cache`` lives for one task (_sig_wide_gen),
    so shingles shared by that task's documents are hashed once."""
    import hashlib

    import numpy as np

    global _U64_MAX
    if _U64_MAX is None:
        _U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
    if t is None:
        return None, None
    n = max(len(t) - 4, 1)
    sh = {t[i : i + 5] for i in range(n)}
    rows = []
    for x in sh:
        hs = cache.get(x)
        if hs is None:
            xb = x.encode("utf-8")
            ds = b"".join(hashlib.md5(p + xb).digest() for p in _MINHASH_PREFIXES)
            hs = np.frombuffer(ds, dtype=">u8").astype(np.uint64).reshape(N_HASHES, 2)
            cache[x] = hs
        rows.append(hs)
    a = np.stack(rows)  # (|shingles|, N_HASHES, 2)
    hi, lo = a[:, :, 0], a[:, :, 1]
    mh = hi.min(axis=0)
    # among rows tying on hi, the min lo; the fill value can only coincide
    # with a real candidate's lo, never undercut it
    ml = np.where(hi == mh[None, :], lo, _U64_MAX).min(axis=0)
    mins = [f"{int(mh[s]):016x}{int(ml[s]):016x}" for s in range(N_HASHES)]
    return mins, (list(sh) if want_shingles else None)


_SIG_WIDE_SCHEMA = "doc_id bigint, " + ", ".join(f"s{s} string" for s in range(N_HASHES))

# Size cap of the per-task shingle→digests cache in _sig_wide_gen: each
# entry is ~0.8 KB (a 5-char key + 16 digest pairs), so the cap bounds a
# task's cache at ~200 MB; clearing on overflow only costs re-hashing.
SHINGLE_CACHE_CAP = 250_000


def _sig_wide_gen(want_shingles: bool):
    """mapInPandas generator over (doc_id, text): the 16 signature columns,
    plus the distinct-shingle array when ``want_shingles`` — ONE text pass
    for both artifacts (the jaccard-verify ops previously tokenized the
    corpus twice: once for signatures, once for shingle arrays)."""

    def gen(batches):
        # Per-task: shingles repeat across the documents of one partition,
        # and a digest is a pure function of the shingle, so reuse within
        # the task is exact. Nothing outlives the task, so no two calls
        # share state. The cap is checked per Arrow batch, so one
        # shingle-rich partition cannot grow the dict past it.
        cache: dict = {}
        for pdf in batches:
            if len(cache) > SHINGLE_CACHE_CAP:
                cache.clear()
            sigs = []
            arrs = []
            for t in pdf["text"]:
                m, a = _minhash_doc(t, cache, want_shingles)
                sigs.append(m)
                arrs.append(a)
            out = {"doc_id": pdf["doc_id"]}
            for s in range(N_HASHES):
                out[f"s{s}"] = [None if m is None else m[s] for m in sigs]
            if want_shingles:
                out["arr"] = arrs
            yield pd.DataFrame(out)

    return gen


def minhash_sig_wide_expr(doc_df: DataFrame) -> DataFrame:
    """The original declarative signature table: 16 ``array_min(transform(
    shingles, x -> md5('{s}|' || x)))`` columns. Higher-order md5 lambdas
    are CodegenFallback (interpreted) in Spark — ~24M boxed evaluations at
    sf0.1, ~120 s of every 100× dedup ladder — so the production kernel is
    the Arrow-batched hashlib form below; this form is kept as the
    semantics-defining spec and the equivalence-test oracle
    (tests/test_invariants.py::test_minhash_vectorized_kernel_bit_identical)."""
    sig_exprs = [
        f"array_min(transform({_SHINGLE_SQL_SPARK}, x -> md5(concat('{s}|', x)))) AS s{s}"
        for s in range(N_HASHES)
    ]
    n = width(doc_df.sparkSession)
    return doc_df.repartition(n, "doc_id").selectExpr("doc_id", *sig_exprs)


def minhash_sig_wide(doc_df: DataFrame) -> DataFrame:
    """(doc_id, s0..s15): the 16 MinHash signatures, Arrow-vectorized.

    One mapInPandas pass computes all 16 mins per doc in a single hashlib
    sweep with a per-TASK shingle cache (_minhash_doc); the input is
    hash-repartitioned to the fleet width (``catalog.width``) first so
    Python workers get even slices even when the documents scan arrives as
    one split at test scale — the md5 work is CPU-bound per ROW, so its
    width must track cores, not bytes. Replaces the
    interpreted md5-fold chain (minhash_sig_wide_expr) with bit-identical
    output — pinned by test_minhash_vectorized_kernel_bit_identical."""
    n = width(doc_df.sparkSession)
    return (
        doc_df.repartition(n, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(_sig_wide_gen(False), _SIG_WIDE_SCHEMA)
    )


def minhash_sig_shingle_wide(doc_df: DataFrame) -> DataFrame:
    """(doc_id, s0..s15, arr): signatures AND the distinct-shingle array
    from ONE text pass — the shared input of the jaccard-verify ops, which
    would otherwise run two full-corpus Arrow kernels (signatures for
    banding, shingle arrays for exact verification) over the same text
    (0.59 s + 0.39 s pinned stages per run at sf0.1; two corpus
    tokenizations at any scale). The shingle set is a byproduct of the
    signature sweep, so emitting it costs only the extra column bytes."""
    n = width(doc_df.sparkSession)
    return (
        doc_df.repartition(n, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(_sig_wide_gen(True), _SIG_WIDE_SCHEMA + ", arr array<string>")
    )


def minhash_signatures(doc_df: DataFrame) -> DataFrame:
    """(doc_id, seed, sig) long form of minhash_sig_wide (via ``stack``)."""
    stack_args = ", ".join(f"{s}, s{s}" for s in range(N_HASHES))
    return minhash_sig_wide(doc_df).selectExpr(
        "doc_id", f"stack({N_HASHES}, {stack_args}) as (seed, sig)"
    )


# SQL-text forms of the band-key array and the shared-signature count —
# parsed JVM-side in ONE round trip each. The column-object forms built
# ~100 py4j expression handles per declaration, and the three eager bench
# queries that re-declare this chain per timed run (q_minhash,
# q_clean_pipeline, q_jaccard_capped) paid that as pure driver chatter
# (r14 measurement: 0.31 -> 0.11 s per candidates declaration; identical
# analyzed schema and rows). Catalyst expressions are the same either way.
_BAND_ARRAY_SQL = "array(" + ", ".join(
    "md5(concat_ws('|', " + ", ".join(f"s{4 * b + j}" for j in range(4)) + "))"
    for b in range(N_BANDS)
) + ")"
N_SHARED_SQL = " + ".join(
    f"(CASE WHEN a_s{s} = b_s{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
)


def _band_keys_of(wide: DataFrame) -> DataFrame:
    """(doc_id, b, band_key) long form: each doc's 4 band keys (md5 of 4
    consecutive signatures) — 16 B of join payload per row."""
    return wide.selectExpr("doc_id", f"posexplode({_BAND_ARRAY_SQL}) AS (b, band_key)")


def minhash_band_keys(doc_df: DataFrame) -> DataFrame:
    """Pinned (doc_id, b, band_key) banding of the corpus — the shared
    candidate-generation input (see minhash_candidates for why the
    signature table is pin()-ed)."""
    from ..catalog import pin

    return _band_keys_of(pin(minhash_sig_wide(doc_df)))


def minhash_candidates(
    doc_df: DataFrame, with_sigs: bool = True, wide: DataFrame | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing ≥1 of 4 band keys (each key =
    md5 of 4 consecutive sigs); with_sigs=True appends both rows' signature
    columns (a_s*/b_s*) for verification. Bucket join on the band key;
    Σ bucket² stays small because all 4 mins must agree.

    Shape (r7 rework, 2× locally and the scale win): the signature table is
    pin()-ed once — without the barrier Catalyst inlines the 16 interpreted
    md5-fold chains into the band-key Generate AND both self-join branches,
    re-evaluating the whole shingle×md5 pipeline ~5× (measured 3.4 s vs
    0.3 s for the sigs themselves at sf0.1). The bucket join then carries
    only (doc_id, b, band_key) — 16 B/row of join payload instead of the
    ~1 KB of 32 md5 strings — the pair set dedups NARROW, and signatures
    join back per side afterwards (#pairs rows, doc-id keyed; Spark picks
    broadcast locally, sort-merge at corpus scale)."""
    from ..catalog import pin

    if wide is None:
        wide = pin(minhash_sig_wide(doc_df))
    banded = _band_keys_of(wide)
    x = banded.alias("x")
    y = banded.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    if not with_sigs:
        return pairs
    a = wide.selectExpr("doc_id AS doc_a", *[f"s{s} AS a_s{s}" for s in range(N_HASHES)])
    b = wide.selectExpr("doc_id AS doc_b", *[f"s{s} AS b_s{s}" for s in range(N_HASHES)])
    return pairs.join(a, "doc_a").join(b, "doc_b")


@op(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
    FROM (SELECT doc_id, sha256(text) AS h FROM documents)
    GROUP BY h
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha2(text, 256), keep the min doc_id per content
    hash (+ copy count). One shuffle on the hash; survivors only."""
    d = load(spark, sf_dir).documents
    return (
        d.select("doc_id", F.sha2("text", 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").cast("bigint").alias("n_copies"))
        .drop("h")
    )


@op(
    "dedup_near_minhash",
    oracle=_CAND_CTE_DUCK
    + f"""
    SELECT c.doc_a, c.doc_b, CAST({_N_SHARED_DUCK} AS BIGINT) AS n_shared
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    WHERE {_N_SHARED_DUCK} >= {N_SHARED_MIN}
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by banded MinHash-LSH: candidates share ≥1 of 4 band
    keys (md5 of 4 consecutive sigs), verified by ≥8/16 total shared
    signatures — counted by comparing the two signature rows directly, no
    per-seed fan-out. 5-char shingles, md5 hash family (SURVEY §2.K)."""
    d = load(spark, sf_dir).documents
    cand = minhash_candidates(d)
    return cand.selectExpr(
        "doc_a", "doc_b", f"CAST({N_SHARED_SQL} AS BIGINT) AS n_shared"
    ).where(F.col("n_shared") >= N_SHARED_MIN)


@op(
    "dedup_jaccard_verify",
    oracle=_CAND_CTE_DUCK
    + f"""
    , sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL_DUCK}) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= {JACCARD_MIN}
    """,
)
def dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-then-verify pattern: banded-MinHash candidates get their
    EXACT 5-gram-shingle Jaccard computed (shingle-set intersection via
    join), keeping pairs ≥ 0.5 — the 100 TB shape for n-gram-Jaccard dedup:
    the exact set intersection runs only on LSH-surfaced candidates,
    never all n² pairs. Shingle sets are explode+``.distinct()`` (shuffle
    dedup), not O(k²) ``array_distinct``.

    CONTRACT CAVEAT at extreme duplication: output (and intersection
    work) is quadratic in near-dup FAMILY size — a million-copy family
    emits ~10¹² pairs no engine should materialize. When only min-id
    survivorship is needed downstream, use ``dedup_jaccard_verify_capped``
    (bounded per-doc verification fan-out) instead."""
    from ..catalog import pin

    d = load(spark, sf_dir).documents
    # ONE combined sig+shingle pass/pin (r14): candidates band off the
    # s* columns, verification reads the arr column of the same frame.
    wide = pin(minhash_sig_shingle_wide(d))
    sh = wide.select("doc_id", "arr", F.size("arr").cast("bigint").alias("n_sh"))
    return _jaccard_on_candidates(
        d, minhash_candidates(d, with_sigs=False, wide=wide), sh=sh
    )


def _distinct_shingles_batch(texts: pd.Series) -> pd.Series:
    """Arrow batch kernel: Series[str] -> Series[list of DISTINCT 5-char
    shingles]. A Python set per row is O(k); element order is arbitrary —
    exactly as arbitrary as the shuffle order the explode+distinct+
    collect_list form produced, and no consumer is order-sensitive
    (array_intersect + size only)."""
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        n = max(len(t) - 4, 1)
        out.append(list({t[i : i + 5] for i in range(n)}))
    return pd.Series(out)


def distinct_shingle_arrays(d: DataFrame) -> DataFrame:
    """(doc_id, arr, n_sh): each doc's distinct 5-gram shingle set as one
    bounded array column, built in a single Arrow-batched map — ZERO
    shuffles. An explode → shuffle-distinct → collect_list form would move
    Σ|shingles| rows (~150M at the 100× corpus replica) through two
    shuffles just to rebuild a per-row set the kernel can emit directly.
    (A JVM ``array_distinct(transform(...))`` would also avoid the shuffle
    but evaluates the interpreted higher-order shingle lambda, the
    CodegenFallback class the Arrow MinHash kernel avoids.)"""
    arr = F.pandas_udf(_distinct_shingles_batch, "array<string>")(F.col("text"))
    n = width(d.sparkSession)
    return (
        d.repartition(n, "doc_id")
        .select("doc_id", arr.alias("arr"))
        .select("doc_id", "arr", F.size("arr").cast("bigint").alias("n_sh"))
    )


def _jaccard_on_candidates(d: DataFrame, cand: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """Exact 5-gram-shingle Jaccard for each candidate (doc_a, doc_b) pair,
    keeping pairs ≥ JACCARD_MIN.

    Shape: per-doc DISTINCT shingle ARRAYS (one Arrow-batched map, no
    shuffle — distinct_shingle_arrays), joined to each side of the
    candidate pair; the intersection is one JVM ``array_intersect``
    (hash-set build, O(|a|+|b|) per pair). A shingle-keyed join+groupBy
    would have an intermediate of Σ_pairs |shingles(doc_a)| rows — ~1.8B
    rows for the capped 100× replica's 2M pairs — where this form carries
    one bounded array column per pair side, and builds the sets with no
    shuffle at all. No broadcast hint anywhere: the array table is one row per DOCUMENT —
    corpus-sized, not a dim; AQE picks the join strategy.

    The array table is pin()-ed: it feeds BOTH sides of the pair join, and
    without the barrier each side re-runs the Arrow shingle kernel over the
    whole corpus (the minhash_candidates signature-table argument — two
    identical 0.39 s kernel stages at sf0.1, and at 100 TB two full corpus
    re-tokenizations where one suffices)."""
    from ..catalog import pin

    # Explicit-width repartition of the pair list before the verify joins:
    # the capped/distinct candidate exchange is a few KB of (doc_a, doc_b)
    # ids, so AQE's byte-based coalescing folds it to ONE partition — and
    # the per-pair array_intersect downstream is ~5 orders of magnitude
    # more work per byte than the ids suggest (measured: a 1.1 s
    # single-task verify stage at sf0.1, the query's largest stage).
    # A user-specified width is exempt from AQE coalescing; doc_b keeps
    # the verify co-partitioned with the b-side shingle join at scale.
    # ``sh``: callers that already hold the combined sig+shingle frame
    # (minhash_sig_shingle_wide) pass its (doc_id, arr, n_sh) view so the
    # corpus is tokenized once, not twice.
    if sh is None:
        sh = pin(distinct_shingle_arrays(d))
    cand = cand.repartition(width(d.sparkSession), "doc_b")
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"), F.col("n_sh").alias("na")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"), F.col("n_sh").alias("nb")
    )
    j = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        j.where(jac >= JACCARD_MIN)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


JACCARD_CAP_K = 4  # verify each doc only against its K lowest-id candidates


@op(
    "dedup_jaccard_verify_capped",
    oracle=_CAND_CTE_DUCK
    + f"""
    , capped AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               row_number() OVER (PARTITION BY doc_b ORDER BY doc_a) AS rn
        FROM cand
      ) WHERE rn <= {JACCARD_CAP_K}
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL_DUCK}) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM capped c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= {JACCARD_MIN}
    """,
)
def dedup_jaccard_verify_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard verification with a per-document candidate CAP: each doc_b
    is verified only against its {JACCARD_CAP_K} lowest-id band candidates, so per-doc verification fan-out — and the
    output — is bounded at K rows per document regardless of near-dup
    family size. The uncapped contract (dedup_jaccard_verify) is quadratic
    in family size: a pathological million-copy family emits ~10¹² pairs.

    Sufficient for min-id survivorship: a duplicated document's lowest-id
    candidates include the family minimum (identical text ⇒ identical
    signatures ⇒ the same band keys), so "has a verified pair with a
    smaller id" is preserved; K > 1 hedges near-identical families where
    the lowest-id candidate might fail exact verification while another
    passes. The cap is applied at BOTH levels of the plan:
      - per BUCKET first: each (band, key) bucket joins its members only
        against the bucket's K smallest doc_ids (a bucket-keyed window,
        no collect) — provably lossless for the per-doc_b K-lowest
        semantics, because any candidate of doc_b that ranks in its
        overall K-lowest also ranks in its shared bucket's K-smallest
        members (all of doc_b's smaller bucket-mates precede it, so if
        fewer than K exist they all sit in the bucket's top-K, and if ≥K
        exist the bucket's top-K are exactly the K lowest of them).
        This collapses candidate fan-out from Σ bucket² to Σ bucket·K —
        the difference between 25M and ~2M generated pairs on the 100×
        total-duplication replica, where every bucket is hot;
      - per doc_b after the bucket union: a window top-K picks the K
        lowest overall, BEFORE the shingle joins, so the expensive exact
        intersection only ever sees ≤ K·n pairs."""
    from pyspark.sql import Window

    from ..catalog import pin

    d = load(spark, sf_dir).documents
    # ONE combined sig+shingle pass/pin: the banding reads the s* columns,
    # the exact verification reads the arr column of the same pinned
    # frame, so the corpus text runs through one Arrow kernel and one
    # checkpoint, not two.
    wide = pin(minhash_sig_shingle_wide(d))
    banded = _band_keys_of(wide)
    w_bucket = Window.partitionBy("b", "band_key").orderBy(F.col("doc_id").asc())
    reps = (
        banded.withColumn("rn", F.row_number().over(w_bucket))
        .where(F.col("rn") <= JACCARD_CAP_K)
        .select(F.col("doc_id").alias("doc_a"), "b", "band_key")
    )
    y = banded.alias("y")
    cand = (
        reps.alias("x")
        .join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_a") < F.col("y.doc_id")),
        )
        .select("doc_a", F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # Explicit-width repartition feeding the per-doc cap window: the window
    # needs a doc_b exchange anyway, but an ENSURE_REQUIREMENTS exchange is
    # AQE-coalesced by BYTES — and the id-only pair list is a few KB, so the
    # whole window + verify-join + array_intersect chain above it collapsed
    # to ONE task (measured: a 1.1 s serial stage, the query's largest). A
    # user-specified width is exempt from coalescing and the window reuses
    # it, so this adds no exchange — it only pins the verify stage's
    # parallelism to match its per-row cost instead of its input bytes.
    w_doc = Window.partitionBy("doc_b").orderBy(F.col("doc_a").asc())
    capped = (
        cand.repartition(width(spark), "doc_b")
        .withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") <= JACCARD_CAP_K)
        .select("doc_a", "doc_b")
    )
    sh = wide.select("doc_id", "arr", F.size("arr").cast("bigint").alias("n_sh"))
    return _jaccard_on_candidates(d, capped, sh=sh)


# ---------------------------------------------------------------------------
# SimHash (64-bit, two md5s per token, 4×16-bit band LSH)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 6


@op(
    "dedup_simhash",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ), contrib AS (
      SELECT doc_id, i.i,
             sum(w * (2 * ((strpos('0123456789abcdef',
                     CASE WHEN i.i <= 32 THEN substring(md5(token), i.i, 1)
                          ELSE substring(md5('x' || token), i.i - 32, 1) END) - 1) % 2) - 1)) AS s
      FROM tf CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
      GROUP BY doc_id, i.i
    ), sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 AND i <= 32 THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS BIGINT) AS w1,
             CAST(sum(CASE WHEN s > 0 AND i > 32 THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS BIGINT) AS w2
      FROM contrib GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, w1, w2, b.b,
             CASE b.b WHEN 1 THEN w1 & 65535 WHEN 2 THEN w1 >> 16
                      WHEN 3 THEN w2 & 65535 ELSE w2 >> 16 END AS band_val
      FROM sh CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.w1 AS w1a, a.w2 AS w2a, b.w1 AS w1b, b.w2 AS w2b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(w1a, w1b)) + bit_count(xor(w2a, w2b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(w1a, w1b)) + bit_count(xor(w2a, w2b)) <= 6
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit token-frequency-weighted signature (bit i =
    sign of Σ tf·(±1), where ±1 is the parity of the i-th hex digit of
    md5(token) for bits 1-32 and of md5('x'||token) for bits 33-64 — the
    md5 family keeps both engines bit-identical), stored as two 32-bit
    words, banded 4×16 bits for LSH candidates, exact Hamming ≤ 6.

    Plan shape (the 100 TB concern): per-token sign vectors are computed
    ONCE per vocabulary entry and hash-joined to the tf table (AQE
    broadcasts the vocabulary while it is small);
    the 64 bit-sums are 64 aggregate columns over the tf rows — map-side
    combine, no ×64 row fan-out, no shuffle wider than #docs rows.
    Candidates come from (band, value) bucket joins, never n²; Hamming on
    two 32-bit words is two xor+bit_count ops at rescore."""
    d = load(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("w"))
    )
    signs = F.expr(
        "transform(sequence(1, 64), i -> CASE WHEN i <= 32"
        " THEN 2 * ((instr('0123456789abcdef', substring(md5(token), i, 1)) - 1) % 2) - 1"
        " ELSE 2 * ((instr('0123456789abcdef', substring(md5(concat('x', token)), i - 32, 1)) - 1) % 2) - 1 END)"
    )
    tokbits = tf.select("token").distinct().select("token", signs.alias("signs"))
    # tokbits is the corpus VOCABULARY — data-derived and heavy-tailed (a
    # web-scale corpus's token set can be billions of rows), so no hard
    # broadcast hint: AQE broadcasts it while it measures small and
    # degrades to a shuffled hash join on the token key when it doesn't.
    joined = tf.join(tokbits, "token").select("doc_id", "w", "signs")
    wide = joined.groupBy("doc_id").agg(
        *[
            F.sum(F.col("w") * F.element_at("signs", i + 1)).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    w1_expr = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )
    w2_expr = " + ".join(
        f"(CASE WHEN s{i + 32} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )
    sh = wide.selectExpr("doc_id", f"({w1_expr}) AS w1", f"({w2_expr}) AS w2")
    banded = sh.select(
        "doc_id",
        "w1",
        "w2",
        F.explode(F.sequence(F.lit(1), F.lit(SIMHASH_BANDS))).alias("b"),
    ).withColumn(
        "band_val",
        F.expr(
            "CASE b WHEN 1 THEN w1 & 65535 WHEN 2 THEN shiftright(w1, 16)"
            " WHEN 3 THEN w2 & 65535 ELSE shiftright(w2, 16) END"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.w1").alias("w1a"),
            F.col("a.w2").alias("w2a"),
            F.col("b.w1").alias("w1b"),
            F.col("b.w2").alias("w2b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(w1a ^ w1b) + bit_count(w2a ^ w2b)").cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= SIMHASH_MAX_HAMMING
    )


@op(
    "dedup_incremental",
    oracle=_CAND_CTE_DUCK
    + f"""
    , cut AS (SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS c FROM documents)
    SELECT c.doc_b AS new_doc, c.doc_a AS dup_of,
           CAST({_N_SHARED_DUCK} AS BIGINT) AS n_shared
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    CROSS JOIN cut
    WHERE c.doc_a <= cut.c AND c.doc_b > cut.c
      AND {_N_SHARED_DUCK} >= {N_SHARED_MIN}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup indexing — the daily-crawl shape: the newest
    ~20% of documents (doc_id above the 0.8 quantile cutoff) probe the
    banded-MinHash signature index of the EXISTING corpus, instead of the
    full self-join re-running over all history. Work per day is
    O(new × bucket-hit), not O(corpus²); the signature index is exactly
    what dedup_near_minhash already maintains, so at 100 TB this is an
    append-only parquet table keyed by band_key that each new crawl batch
    hash-joins against. Emits (new_doc, dup_of, n_shared) — the rows a
    pipeline uses to drop already-seen content before it enters training.

    Oracle: the same band-bucket candidates restricted to (index side ≤
    cutoff < new side), same ≥8/16 signature verification. The cutoff is
    floor(0.8 * max(doc_id)) — an engine-independent arithmetic split
    (approxQuantile vs DuckDB quantile_disc use different discrete-quantile
    position conventions and can disagree by one element)."""
    d = load(spark, sf_dir).documents
    cutoff = d.agg(
        F.floor(F.lit(0.8) * F.max("doc_id")).cast("bigint").alias("c")
    ).collect()[0]["c"]
    cand = minhash_candidates(d)
    return (
        cand.where((F.col("doc_a") <= cutoff) & (F.col("doc_b") > cutoff))
        .selectExpr(
            "doc_b AS new_doc",
            "doc_a AS dup_of",
            f"CAST({N_SHARED_SQL} AS BIGINT) AS n_shared",
        )
        .where(F.col("n_shared") >= N_SHARED_MIN)
    )


@op(
    "dedup_family_histogram",
    oracle="""
    WITH f AS (
      SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS family_size
      FROM documents GROUP BY h
    )
    SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
           CAST(family_size * count(*) AS BIGINT) AS n_docs
    FROM f GROUP BY family_size
    """,
)
def dedup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus (r6 addition): histogram of
    exact-dup family sizes (how many content hashes occur 1×, 2×, ... and
    how many docs each bucket holds) — the first chart in any curation
    report, and the number that decides whether near-dedup is even worth
    running. Two groupBys, both map-side combinable; the second input is
    one row per distinct hash and the output is ≤ max-family-size rows."""
    d = load(spark, sf_dir).documents
    fam = (
        d.select(F.sha2("text", 256).alias("h"))
        .groupBy("h")
        .agg(F.count("*").cast("bigint").alias("family_size"))
    )
    return fam.groupBy("family_size").agg(
        F.count("*").cast("bigint").alias("n_families"),
        (F.col("family_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


CONTAIN_MIN = 0.8  # smaller-side containment: |A∩B| / min(|A|,|B|)


@op(
    "dedup_containment",
    oracle=_CAND_CTE_DUCK
    + f"""
    , sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL_DUCK}) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CASE WHEN sa.n_sh <= sb.n_sh THEN i.doc_a ELSE i.doc_b END AS doc_contained,
           round(CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= {CONTAIN_MIN}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (r8 addition): for each LSH candidate
    pair, the SMALLER shingle set's containment |A∩B| / min(|A|,|B|) —
    the signal Jaccard misses when a short document is wholly quoted
    inside a long one (J = |A|/|B| stays low while containment hits 1.0).
    The quote/boilerplate/sub-document duplication detector a crawl
    pipeline runs alongside symmetric near-dup; emits the pair, which doc
    is the contained one, and both scores for the keep/drop policy.

    Same scale shape as dedup_jaccard_verify: banded-MinHash candidates
    only (never n² pairs), one JVM array_intersect per pair over pinned
    distinct-shingle arrays (_jaccard_on_candidates's kernel, shared via
    the same shingle-array construction). Threshold 0.8 sits far from the
    fixture's score gap (1.00 vs 0.56), so the cut is ulp-safe
    cross-engine."""
    d = load(spark, sf_dir).documents
    cand = minhash_candidates(d, with_sigs=False)
    sh = distinct_shingle_arrays(d)
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"), F.col("n_sh").alias("na")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"), F.col("n_sh").alias("nb")
    )
    j = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    cont = F.col("n_inter").cast("double") / F.least("na", "nb")
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        j.where(cont >= CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_contained"),
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


LSH_CURVE_SAMPLE = 256  # bounded pair universe: 256 docs -> ~32k pairs at ANY SF


@op(
    "diag_lsh_band_curve",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {LSH_CURVE_SAMPLE}
    ), sig AS (
      SELECT doc_id,
             {_SIG_COLS_DUCK}
      FROM docs
    ), banded AS (
      SELECT doc_id, b.b, CASE b.b {_BAND_KEYS_DUCK} END AS band_key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS b) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      FROM banded x JOIN banded y
        ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL_DUCK}) AS shingle FROM docs
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
      FROM sh x JOIN sh y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.i, 0)) AS jac,
             CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      LEFT JOIN inter i ON i.da = a.doc_id AND i.db = b.doc_id
      LEFT JOIN cand c ON c.da = a.doc_id AND c.db = b.doc_id
    ), bp AS (
      SELECT CAST(least(floor(jac * 10), 9) AS INT) AS bucket, is_cand FROM pairs
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_cand) AS BIGINT) AS n_candidates,
           round(CAST(sum(is_cand) AS DOUBLE) / count(*), 6) AS rate,
           round(1 - power(1 - power((bucket + 0.5) / 10, {N_HASHES // N_BANDS}), {N_BANDS}), 6) AS theory
    FROM bp GROUP BY bucket
    """,
)
def diag_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH TUNING CURVE — the dedup twin of diag_ann_nprobe_curve: for
    a bounded deterministic doc sample (first {LSH_CURVE_SAMPLE} by
    doc_id — a fixed-size pair universe at ANY corpus scale, the honest
    form of a diagnostic that is quadratic in its sample), every pair's
    EXACT 5-shingle Jaccard is bucketed (width 0.1) and compared against
    its banded-candidate outcome, next to the theoretical S-curve
    P(candidate | s) = 1-(1-s^r)^b for the shipped b=4, r=4. This is THE
    artifact for choosing a banding: a capacity review reads measured
    candidate-rate-vs-similarity against theory off one ≤10-row frame and
    sees both error directions (false-candidate cost below the knee,
    missed-near-dup risk above it). EXACT-oracled because the md5 hash
    family is bit-identical cross-engine — even the measured curve is
    deterministic algebra here."""
    d = load(spark, sf_dir).documents
    sample = d.orderBy("doc_id").limit(LSH_CURVE_SAMPLE)
    sh = distinct_shingle_arrays(sample).select("doc_id", "arr", "n_sh")
    bands = minhash_band_keys(sample)
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            (
                F.size(F.array_intersect("a.arr", "b.arr")).cast("double")
                / (
                    F.col("a.n_sh")
                    + F.col("b.n_sh")
                    - F.size(F.array_intersect("a.arr", "b.arr"))
                )
            ).alias("jac"),
        )
        .join(cand.withColumn("is_cand", F.lit(1)), ["da", "db"], "left")
        .select("jac", F.coalesce("is_cand", F.lit(0)).alias("is_cand"))
    )
    r, nb = N_HASHES // N_BANDS, N_BANDS
    bucket = F.least(F.floor(F.col("jac") * 10), F.lit(9)).cast("int")
    s_mid = (F.col("bucket") + 0.5) / 10
    return (
        pairs.select(bucket.alias("bucket"), "is_cand")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.round(F.sum("is_cand").cast("double") / F.count("*"), 6).alias("rate"),
        )
        .withColumn(
            "theory",
            F.round(1 - F.pow(1 - F.pow(s_mid, F.lit(r)), F.lit(nb)), 6),
        )
    )
