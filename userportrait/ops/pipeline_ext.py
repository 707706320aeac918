"""Round-2 pipeline extensions, batch 2 — the remaining operations a
large-scale training-data / analytics pipeline needs beyond §2.A–§2.M:
batch sessionization, deterministic stratified sampling, unpivot,
correlated subqueries, salted skew joins, duplicate-cluster connected
components, PII redaction, document chunking, embedding quantization, and
edit-distance near-dup verification.

All ops follow the SURVEY §2.0 determinism rules (md5 hash family shared
across engines, decimal-exact sums, unique-key tie-breaks) and carry EXACT
DuckDB oracles.

Scale notes (100 TB):
- sessionize_events is ONE shuffle on user_id (window + groupBy share the
  partitioning; Catalyst reuses the exchange).
- sample_stratified is a pure map-side filter on an md5-derived uniform
  hash — no shuffle, no RNG divergence between plan retries (deterministic
  sampling is what you want at scale: re-running a failed stage must not
  change the sample).
- join_skew_salted shows the standard hot-key mitigation: the skewed probe
  side gets a deterministic salt, the build side is exploded ×SALT, so one
  hot orderkey spreads over SALT reducers instead of one.
- dedup_cc_clusters is iterative min-label propagation (the distributed
  connected-components shape); each round is one join + one groupBy on
  doc_id, lineage cut per round by catalog.pin() (reliable checkpoint on
  a cluster, localCheckpoint in local mode) so plans stay O(1) per round.
- text_pii_redact / doc_chunking are single-pass narrow maps (regex /
  slice) — they pipeline with the scan, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, pin, width
from ..ranking import exact_prefix
from ..registry import op
from .llm_dedup import N_SHARED_MIN, N_SHARED_SQL, _CAND_CTE_DUCK, _N_SHARED_DUCK, minhash_candidates

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@op(
    "sessionize_events",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), marked AS (
      SELECT user_id, event_id, value, us,
             CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT user_id, value, us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
           min(us) AS start_us, max(us) AS end_us,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split on >30 min inactivity
    (lag + running-sum-of-boundaries), then per-session rollup. The batch
    twin of stream_session. One shuffle: the user_id window partitioning is
    reused by the groupBy."""
    e = load(spark, sf_dir).events
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select("user_id", "event_id", "value", us.alias("us")).withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull() | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
    )


# Per-stratum keep-cutoffs out of 256 (md5-uniform byte): F 25%, O 50%, P ~91%.
_STRATA_CUTS = {"F": 64, "O": 128, "P": 232}


@op(
    "sample_stratified",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) AS hb
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM h
    WHERE hb < CASE o_orderstatus WHEN 'F' THEN {_STRATA_CUTS["F"]}
                                  WHEN 'O' THEN {_STRATA_CUTS["O"]}
                                  ELSE {_STRATA_CUTS["P"]} END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-status rates via the first
    md5 byte of the key (uniform in 0..255). Hash-based, not rand()-based:
    the sample is stable under stage retries and engine changes — a hard
    requirement for reproducible training-data splits. Pure map, no
    shuffle."""
    o = load(spark, sf_dir).orders
    hb = F.expr(
        "(instr('0123456789abcdef', substring(md5(cast(o_orderkey as string)), 1, 1)) - 1) * 16"
        " + (instr('0123456789abcdef', substring(md5(cast(o_orderkey as string)), 2, 1)) - 1)"
    )
    cut = (
        F.when(F.col("o_orderstatus") == "F", _STRATA_CUTS["F"])
        .when(F.col("o_orderstatus") == "O", _STRATA_CUTS["O"])
        .otherwise(_STRATA_CUTS["P"])
    )
    return o.filter(hb < cut).select("o_orderkey", "o_orderstatus", "o_totalprice")


@op(
    "agg_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of agg_pivot) via the native
    ``DataFrame.unpivot`` — narrow ×k row fan-out, no shuffle."""
    p = load(spark, sf_dir).part
    return p.withColumn("p_size", F.col("p_size").cast("double")).unpivot(
        ["p_partkey"], ["p_size", "p_retailprice"], "metric", "value"
    )


@op(
    "subq_correlated",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(CAST(sum(CAST(c2.c_acctbal AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) / count(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), written as real SQL so Catalyst's subquery decorrelation is
    exercised — the optimizer rewrites it to the aggregate+join we'd write
    by hand. Decimal-exact sum / bigint count → bitwise-stable double."""
    load(spark, sf_dir).customer.createOrReplaceTempView("customer_subq")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer_subq c
        WHERE c_acctbal > (
          SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(38,4))) AS DOUBLE) / count(*)
          FROM customer_subq c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


SALT = 8


@op(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated big-big join: the fact side carries a deterministic
    salt (l_linenumber % 8), the other side is exploded ×8, and the join
    key becomes (orderkey, salt) — a hot orderkey now spreads over 8
    reducers instead of hot-spotting one. Semantics identical to the plain
    equi-join (the oracle IS the plain join). At 100 TB this is the manual
    fallback when AQE skew-join can't split a single key."""
    t = load(spark, sf_dir)
    li = t.lineitem.withColumn("salt", (F.col("l_linenumber") % SALT).cast("int"))
    o = t.orders.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))).alias("salt")
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
        )
    )


@op(
    "dedup_cc_clusters",
    oracle=_CAND_CTE_DUCK.replace("WITH", "WITH RECURSIVE", 1)
    + f"""
    , pairs AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
      WHERE {_N_SHARED_DUCK} >= {N_SHARED_MIN}
    ), edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS id FROM edges
    ), reach(id, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
    ), labels AS (
      SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id
      UNION ALL
      SELECT doc_id, CAST(doc_id AS BIGINT) AS cluster_id FROM documents
      WHERE doc_id NOT IN (SELECT id FROM nodes)
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph (banded-MinHash pairs with ≥8/16 shared sigs, the
    dedup_near_minhash edge set), labels = min doc_id per component via
    iterative min-label propagation to fixpoint. This is the step after
    pairwise dedup that real corpus pipelines need — transitive families
    A~B~C collapse to one cluster even when A,C were never a candidate
    pair. Oracle: DuckDB recursive-CTE transitive closure (exact same
    fixpoint).

    Scale shape: each round = one-hop min propagation (join(labels, edges)
    + groupBy(min)) followed by a pointer-jump (labels self-join: adopt the
    label of one's label — path halving), so convergence is O(log diameter)
    rounds, not O(diameter): the sf0.1 corpus has a 105-doc dup family
    whose diameter exceeds any sane fixed hop count, and a 100 TB crawl
    corpus will contain worse. ≤20 rounds covers diameters past 2^20.
    catalog.pin() cuts lineage so round N's plan doesn't replay rounds
    1..N-1 (reliable .checkpoint() when a checkpoint dir is configured —
    cluster-safe; eager localCheckpoint otherwise); the convergence probe
    is a scalar agg, not a collect of data rows."""
    d = load(spark, sf_dir).documents
    pairs = (
        minhash_candidates(d)
        .where(F.expr(N_SHARED_SQL) >= N_SHARED_MIN)
        .select("doc_a", "doc_b")
    )
    # Materialize the (small) edge list once so the per-round plans below
    # reference a cached leaf, not the 16-signature LSH plan. persist(), not
    # localCheckpoint(): checkpointing this plan forces an RDD conversion of
    # the whole LSH self-join, which blows up plan analysis.
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst").persist()
    edges.count()
    # Iterate only over nodes that appear in the dup graph — at corpus scale
    # that's ≪ the corpus; untouched docs join back as singletons at the end.
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn("lab", F.col("doc_id"))
    prev_sum = None
    for _ in range(20):
        neighbor = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), "lab")
        )
        hop = labels.union(neighbor).groupBy("doc_id").agg(F.min("lab").alias("lab"))
        # pointer-jump (path halving): adopt the label of one's label. Labels
        # are node ids, so the self-join always resolves; least() keeps the
        # monotone-decreasing invariant that makes the sum probe sound.
        l1, l2 = hop.alias("l1"), hop.alias("l2")
        labels = (
            l1.join(l2, F.col("l1.lab") == F.col("l2.doc_id"), "left")
            .select(
                F.col("l1.doc_id").alias("doc_id"),
                F.least(
                    F.col("l1.lab"), F.coalesce(F.col("l2.lab"), F.col("l1.lab"))
                ).alias("lab"),
            )
        )
        labels = pin(labels)
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    singletons = (
        d.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .withColumn("lab", F.col("doc_id"))
    )
    all_labels = labels.union(singletons)
    sizes = all_labels.groupBy("lab").agg(F.count("*").cast("bigint").alias("cluster_size"))
    # no broadcast hint: one row per cluster label, and most clusters are
    # singletons — sizes is corpus-sized on a clean corpus. AQE decides.
    return (
        all_labels.join(sizes, "lab")
        .select("doc_id", F.col("lab").cast("bigint").alias("cluster_id"), "cluster_size")
    )


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@op(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count + redact email / phone patterns
    (deterministic synthetic PII is appended first — the corpus is
    word-salad — so the regexes have real work to do). Single-pass narrow
    map; regex family restricted to syntax with identical Java/RE2
    semantics. Output carries md5(redacted) so the full redacted text is
    verified without shipping it."""
    d = load(spark, sf_dir).documents
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("."),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), F.lit(0))).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), F.lit(0))).cast("bigint").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@op(
    "doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, start + 1, start + {CHUNK_TOKENS})) AS BIGINT) AS chunk_len,
           md5(array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')) AS chunk_md5
    FROM s
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training data: 64-token chunks at
    stride 48 (16-token overlap), emitted via posexplode over the stride
    grid — a narrow ×⌈n/48⌉ fan-out that pipelines with the scan. Chunk
    text verified by md5 (oracle computes identical slices)."""
    d = load(spark, sf_dir).documents
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    s = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.expr(f"sequence(0, size(toks) - 1, {CHUNK_STRIDE})")).alias("chunk_idx", "start"),
    )
    chunk = F.expr(f"slice(toks, start + 1, {CHUNK_TOKENS})")
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@op(
    "embed_quantize",
    oracle="""
    WITH mm AS (
      SELECT vec_id, embedding,
             CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
             CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(list_transform(embedding, x -> CASE WHEN mx = mn THEN 0
             ELSE CAST(round((CAST(x AS DOUBLE) - mn) * 254 / (mx - mn) - 127) AS INT) END), ',') AS qvec,
           round(mn, 4) AS scale_min, round(mx, 4) AS scale_max
    FROM mm
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings (per-vector min/max affine
    map to [-127, 127]) — the standard 4× storage shrink before ANN
    indexing. All arithmetic forced to double in the same operation order
    on both engines → bitwise-identical rounding. Narrow map, no
    shuffle."""
    e = load(spark, sf_dir).embeddings
    mm = e.select(
        "vec_id",
        "embedding",
        F.expr("CAST(array_min(embedding) AS DOUBLE)").alias("mn"),
        F.expr("CAST(array_max(embedding) AS DOUBLE)").alias("mx"),
    )
    return mm.select(
        "vec_id",
        # comma-joined: the driver's pandas canonicalizer cannot hash list cells
        F.expr(
            "array_join(transform(embedding, x -> CAST(CASE WHEN mx = mn THEN 0"
            " ELSE CAST(round((CAST(x AS DOUBLE) - mn) * 254 / (mx - mn) - 127) AS INT) END AS STRING)), ',')"
        ).alias("qvec"),
        F.round("mn", 4).alias("scale_min"),
        F.round("mx", 4).alias("scale_max"),
    )


EDIT_MAX = 12
_LEN_BUCKET = 24
_PREFIX = 40


@op(
    "dedup_edit_distance",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, lang, n_chars // {_LEN_BUCKET} AS lb, substring(text, 1, {_PREFIX}) AS pre
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
    FROM p a JOIN p b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= {EDIT_MAX}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification with length/lang blocking:
    candidate pairs come from equi-joinable blocks (lang, n_chars/24) —
    never n² — and only 40-char prefixes feed the O(k²)-per-pair
    levenshtein. The blocked-verify shape is what keeps char-level dedup
    feasible at corpus scale; both engines share identical edit-distance
    semantics."""
    d = load(spark, sf_dir).documents
    p = d.select(
        "doc_id",
        "lang",
        F.expr(f"n_chars div {_LEN_BUCKET}").alias("lb"),
        F.substring("text", 1, _PREFIX).alias("pre"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.pre"), F.col("b.pre"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(dist <= EDIT_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


PR_ITERS = 5
PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Unroll PR_ITERS weighted-PageRank steps as DuckDB CTEs (contrib_k →
    r_{k+1}); the Spark loop below computes the identical recurrence."""
    parts = [
        """
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), outw AS (
      SELECT src, sum(w) AS tw FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT n FROM (SELECT src AS n FROM edges UNION SELECT dst FROM edges)
    ), r0 AS (
      SELECT n, CAST(1.0 AS DOUBLE) AS r FROM nodes
    )"""
    ]
    for k in range(PR_ITERS):
        parts.append(f"""
    , c{k} AS (
      SELECT e.dst AS n, sum(r.r * e.w / o.tw) AS c
      FROM edges e JOIN r{k} r ON r.n = e.src JOIN outw o ON o.src = e.src
      GROUP BY e.dst
    ), r{k + 1} AS (
      SELECT nodes.n, {1 - PR_DAMP} + {PR_DAMP} * coalesce(c{k}.c, 0) AS r
      FROM nodes LEFT JOIN c{k} ON c{k}.n = nodes.n
    )""")
    parts.append(f"""
    SELECT nat.n_nationkey, nat.n_name, round(r{PR_ITERS}.r, 6) AS pagerank
    FROM r{PR_ITERS} JOIN nation nat ON nat.n_nationkey = r{PR_ITERS}.n
    """)
    return "".join(parts)


@op("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (5 fixed iterations, d=0.85) over the nation
    trade graph: edge (customer-nation → supplier-nation) weighted by
    lineitem count. The expensive part at 100 TB is the edge extraction —
    a 3-join rollup of the full fact table into a tiny graph; the
    iterations then run on #nations rows. Double arithmetic diverges
    between engines only at ~1e-15, absorbed by the final round(6); the
    oracle unrolls the same recurrence as CTEs."""
    t = load(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(t.customer, F.col("o_custkey") == t.customer.c_custkey)
        .join(t.supplier, F.col("l_suppkey") == t.supplier.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
        .persist()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
        .persist()
    )
    r = nodes.withColumn("r", F.lit(1.0))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(r, edges.src == r.n)
            .join(outw, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("tw")).alias("c"))
        )
        r = nodes.join(contrib, nodes.n == contrib.dst, "left").select(
            "n", (F.lit(1 - PR_DAMP) + F.lit(PR_DAMP) * F.coalesce("c", F.lit(0.0))).alias("r")
        )
    nat = load(spark, sf_dir).nation
    return r.join(F.broadcast(nat), r.n == nat.n_nationkey).select(
        "n_nationkey", "n_name", F.round("r", 6).alias("pagerank")
    )


SEQ_LEN = 1024


@op(
    "doc_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, start_tok,
           start_tok // {SEQ_LEN} AS seq_first,
           (start_tok + n_tokens - 1) // {SEQ_LEN} AS seq_last
    FROM c
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing accounting: documents are concatenated
    in doc_id order and split into fixed {SEQ_LEN}-token training
    sequences; each doc gets its global token offset and the first/last
    sequence it lands in (concat-then-chunk — docs may straddle a
    boundary, exactly like pretraining data loaders).

    The global exclusive prefix sum is distributed: the single-partition
    ``sum OVER (ORDER BY doc_id)`` window would funnel every document row
    through one task (~5x10^10 rows at 100 TB of ~2 KB docs). Instead
    ``ranking.exact_prefix`` runs the token-weighted running sum per
    doc_id range bucket, offset by the collected per-bucket token totals;
    the exclusive start is that inclusive sum minus the doc's own tokens.
    """
    d = load(spark, sf_dir).documents
    t = d.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    order = [F.col("doc_id").asc()]
    summed, _ = exact_prefix(t, [(F.col("doc_id"), order, "end_tok")], weight="n_tokens")
    c = summed.withColumn("start_tok", F.col("end_tok") - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.expr(f"start_tok div {SEQ_LEN}").alias("seq_first"),
        F.expr(f"(start_tok + n_tokens - 1) div {SEQ_LEN}").alias("seq_last"),
    )


# ---------------------------------------------------------------------------
# ANN evaluation + skew diagnostics
# ---------------------------------------------------------------------------

from ..registry import OPS as _OPS  # populated: llm_similarity imports before this module


def _recall_oracle(ann_op: str) -> str:
    """Compose an ANN oracle and the exact-kNN oracle (each a
    self-contained WITH...SELECT, embedded as CTE bodies) into a recall@5
    histogram."""
    ann = _OPS[ann_op].oracle
    ex = _OPS["sim_cosine_knn"].oracle
    return f"""
    WITH ann AS ({ann}), ex AS ({ex}), hits AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM ex e LEFT JOIN ann l
        ON l.vec_id = e.vec_id AND l.neighbor_id = e.neighbor_id
      GROUP BY e.vec_id
    )
    SELECT n_hits, CAST(count(*) AS BIGINT) AS n_vecs FROM hits GROUP BY n_hits
    """


def _recall_histogram(ex: DataFrame, ann: DataFrame) -> DataFrame:
    """How many query vectors recovered 0..5 of their exact top-5 via the
    ANN result: left join on (vec_id, neighbor_id), count hits per query,
    histogram over the hit count. The histograms are tiny (6 rows max)."""
    ex, ann = ex.alias("e"), ann.alias("l")
    hits = (
        ex.join(
            ann,
            (F.col("l.vec_id") == F.col("e.vec_id"))
            & (F.col("l.neighbor_id") == F.col("e.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.vec_id"))
        .agg(
            F.sum(F.when(F.col("l.neighbor_id").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits")
        )
    )
    return hits.groupBy("n_hits").agg(F.count("*").cast("bigint").alias("n_vecs"))


@op("sim_knn_recall", oracle=_recall_oracle("sim_knn_lsh"))
def sim_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the hyperplane-LSH kNN against
    the exact broadcast-index kNN, reported as a histogram (how many query
    vectors recovered 0..5 of their true top-5). The eval every ANN
    deployment needs before trading exactness for speed; at 100 TB this
    runs on a deterministic hash-sample of queries (sample_stratified's
    pattern) rather than all of them."""
    from .llm_similarity import sim_cosine_knn, sim_knn_lsh

    return _recall_histogram(sim_cosine_knn(spark, sf_dir), sim_knn_lsh(spark, sf_dir))


@op("sim_knn_ivf_recall", oracle=_recall_oracle("sim_knn_ivf"))
def sim_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF (nprobe=2) kNN against the exact
    broadcast-index kNN — the same quality gate sim_knn_recall provides
    for the LSH path (VERDICT r6 gap #3: IVF previously shipped without a
    recall report). Both ANN paths now carry an exact-oracled recall@5
    histogram, so a quantizer regression (bad centroids, too-low nprobe)
    surfaces in the differential gate, not in production."""
    from .llm_similarity import sim_cosine_knn, sim_knn_ivf

    return _recall_histogram(sim_cosine_knn(spark, sf_dir), sim_knn_ivf(spark, sf_dir))


@op(
    "diag_key_skew",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS total, CAST(avg(cnt) AS DOUBLE) AS mean FROM counts
    )
    SELECT c.user_id, c.cnt,
           round(c.cnt / t.total, 6) AS share,
           round(c.cnt / t.mean, 4) AS skew_x
    FROM counts c CROSS JOIN tot t
    ORDER BY c.cnt DESC, c.user_id LIMIT 10
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: top-10 heaviest events.user_id keys
    with their share of rows and multiple-of-mean — the profiling step
    that decides whether a join needs salting (join_skew_salted) or AQE
    skew handling. One groupBy + a scalar-aggregate cross join; the top-10
    sort is on #distinct-keys rows, not raw data."""
    e = load(spark, sf_dir).events
    counts = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("double").alias("total"), F.avg("cnt").cast("double").alias("mean")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("mean"), 4).alias("skew_x"),
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
    )


@op(
    "doc_clean_pipeline",
    oracle=_CAND_CTE_DUCK
    + f"""
    , exact AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, sha256(text) AS h FROM documents) GROUP BY h
    ), survivors AS (
      SELECT d.doc_id, d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d JOIN exact e ON d.doc_id = e.doc_id
      WHERE len(string_split(d.text, ' ')) >= 20
    ), neardup AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
      WHERE {_N_SHARED_DUCK} >= {N_SHARED_MIN}
    )
    SELECT s.doc_id, s.lang, s.n_tokens
    FROM survivors s
    WHERE NOT EXISTS (
      SELECT 1 FROM neardup n
      JOIN survivors sa ON sa.doc_id = n.doc_a
      WHERE n.doc_b = s.doc_id
    )
    """,
)
def doc_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning as ONE declarative plan — the C4-style
    chain every pre-training pipeline runs: exact dedup (keep min doc_id
    per sha256(text)) → quality gate (≥20 whitespace tokens) → near-dup
    removal (drop any survivor that is the HIGHER id of a verified
    banded-MinHash pair whose lower id also survived the first two
    stages; the keep-lowest rule is deterministic and needs no iteration).

    Scale shape: stage 1 is one shuffle on the content hash; stage 2 is a
    map-side filter; stage 3 materializes the bounded LSH near-dup edge
    list to parquet (the stage boundary every real dedup pipeline has —
    and a required one here: feeding the 32-signature comparison
    expression straight into further joins sends Catalyst's constraint
    propagation exponential) and anti-joins survivors against that small
    edge list. Nothing is collected, nothing iterates — at 100 TB the
    whole pipeline is three shuffles over progressively smaller data.
    """
    from ..catalog import pin

    d = load(spark, sf_dir).documents
    keep_exact = (
        d.select("doc_id", F.sha2("text", 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("h")
    )
    # pin: survivors feeds BOTH the drop-list semi-join and the final
    # anti-join; without the barrier each consumer re-runs the sha256
    # groupBy + join over the full corpus (r14: two evaluations of the
    # exact-dedup shuffle per run, and at 100 TB two corpus scans).
    def _pin_survivors():
        return pin(
            d.join(keep_exact, "doc_id")
            .withColumn("n_tokens", F.size(F.split("text", " ")).cast("bigint"))
            .where(F.col("n_tokens") >= 20)
            .select("doc_id", "lang", "n_tokens")
        )

    # pin() instead of the r13 parquet write + read-back (r14): the stage
    # boundary exists to stop Catalyst's constraint propagation going
    # exponential on the 32-signature comparison expression (measured this
    # round: the unbarriered form spends 14 s in the OPTIMIZER at sf0.1),
    # and a checkpoint truncates lineage exactly as a parquet round-trip
    # does — without the write job, the output-commit protocol, or the
    # re-listing read. On a cluster pin() is a RELIABLE checkpoint into
    # the configured checkpoint dir, so the bounded edge list is still
    # persisted once and fault-tolerant.
    def _pin_edges():
        return pin(
            minhash_candidates(d)
            .where(F.expr(N_SHARED_SQL) >= N_SHARED_MIN)
            .select("doc_a", "doc_b")
        )

    # The two pins are INDEPENDENT eager jobs — overlap them from a tiny
    # driver pool (guide §2.6) so the exact-dedup shuffle back-fills the
    # signature kernel's tail instead of waiting serially behind it.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_surv = pool.submit(_pin_survivors)
        f_edges = pool.submit(_pin_edges)
        survivors = f_surv.result()
        neardup = f_edges.result()
    drop_ids = neardup.join(
        survivors.select(F.col("doc_id").alias("doc_a")), "doc_a"
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    # no broadcast hint: the drop list scales with the corpus duplicate
    # RATE (30-50% of a raw crawl), not a bounded dim. AQE decides.
    return survivors.join(drop_ids, "doc_id", "left_anti")


@op(
    "graph_triangle_count",
    oracle="""
    WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
      ) GROUP BY node
    ),
    oe AS (
      SELECT CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.deg, p.u) < (dv.deg, p.v) THEN p.v ELSE p.u END AS dst
      FROM pairs p JOIN deg du ON p.u = du.node JOIN deg dv ON p.v = dv.node
    ),
    oed AS (SELECT oe.src, oe.dst, d.deg AS ddeg FROM oe JOIN deg d ON oe.dst = d.node),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oed e1
      JOIN oed e2 ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
      JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    tn AS (
      SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
      UNION ALL SELECT c AS node FROM tri
    )
    SELECT d.node, d.deg AS degree, CAST(coalesce(t.cnt, 0) AS BIGINT) AS tri_cnt
    FROM deg d LEFT JOIN (SELECT node, CAST(count(*) AS BIGINT) AS cnt
                          FROM tn GROUP BY node) t USING (node)
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counting over the part co-purchase graph
    (parts are adjacent when they share an order) — the clustering /
    community-density primitive next to graph_pagerank and
    dedup_cc_clusters in the graph family. Output: (node, degree,
    tri_cnt) for every node, zero-filled.

    The algorithm is the MapReduce-classic degree-ordered orientation
    (Cohen 2009 / Suri-Vassilvitskii "Counting Triangles and the Curse of
    the Last Reducer"): orient every edge from the (degree, id)-smaller
    endpoint to the larger, enumerate wedges from each source's
    out-neighbors, then hash-join wedges against the oriented edge set.
    Orientation bounds every out-degree by O(sqrt(2m)) — the hub that
    makes naive wedge enumeration quadratic has huge in-degree but tiny
    out-degree, so the wedge stage is Σ C(outdeg, 2) ≤ O(m^1.5) TOTAL and
    each join is a plain equi-shuffle (AQE-splittable) rather than a
    last-reducer hotspot. Per-order pair fan-out is C(order size, 2) —
    bounded by the max basket, map-side.

    Everything is integer arithmetic on both engines (tuple comparison =
    Spark struct ordering = DuckDB row ordering), so the op differentials
    exactly."""
    li = load(spark, sf_dir).lineitem
    ip = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a, b = ip.alias("a"), ip.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .persist()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .persist()
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = pairs.join(du, "u").join(dv, "v")
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    oe = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    oed = oe.join(deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "ddeg"), "dst")
    e1, e2 = oed.alias("e1"), oed.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.struct(F.col("e1.ddeg"), F.col("e1.dst")) < F.struct(F.col("e2.ddeg"), F.col("e2.dst"))),
    ).select(F.col("e1.src").alias("ta"), F.col("e1.dst").alias("tb"), F.col("e2.dst").alias("tc"))
    tri = wedges.join(
        oe.select(F.col("src").alias("tb"), F.col("dst").alias("tc")), ["tb", "tc"]
    ).persist()
    tn = (
        tri.select(F.col("ta").alias("node"))
        .unionAll(tri.select(F.col("tb").alias("node")))
        .unionAll(tri.select(F.col("tc").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return deg.join(tn, "node", "left").select(
        "node",
        F.col("deg").alias("degree"),
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("tri_cnt"),
    )


@op(
    "graph_jaccard_link_prediction",
    oracle="""
    WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS n, v AS nbr FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
    wedge AS (
      SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS common
      FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.n < b.n
      GROUP BY a.n, b.n
    ),
    cand AS (
      SELECT w.u, w.v, w.common FROM wedge w
      LEFT JOIN pairs p ON p.u = w.u AND p.v = w.v
      WHERE p.u IS NULL
    ),
    scored AS (
      SELECT c.u, c.v, c.common,
             round(CAST(c.common AS DOUBLE) / (du.d + dv.d - c.common), 6) AS jaccard
      FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
    )
    SELECT u AS node, v AS cand, common, jaccard, CAST(rn AS INT) AS rank FROM (
      SELECT u, v, common, jaccard,
             row_number() OVER (PARTITION BY u ORDER BY jaccard DESC, v ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the part co-purchase
    graph (the graph_triangle_count fixture): for every NON-adjacent pair
    with at least one common neighbor, |N(u)∩N(v)| / |N(u)∪N(v)|, top-3
    predictions per node — the "customers who bought these also bought"
    candidate generator, and the fourth verb of the graph family
    (rank: pagerank; cluster: LPA/CC; density: triangles; PREDICT: this).

    Shape: common-neighbor counting is wedge enumeration through each
    shared midpoint (Σ C(deg_mid, 2) wedge rows — the pre-orientation
    triangle bound), a keyed groupBy, an anti join against the edge set
    to drop already-linked pairs, then two degree joins and a per-node
    top-3 window. All counts are integers; jaccard is one rounded double
    ratio, ranked with a unique (jaccard desc, cand asc) key — EXACT
    cross-engine. At 100 TB the standard mitigation applies to the wedge
    stage: cap or sample hub midpoints (a celebrity part co-purchased
    with everything predicts nothing — dropping midpoints above a degree
    ceiling is both a cost and a QUALITY fix)."""
    li = load(spark, sf_dir).lineitem
    ip = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a, b = ip.alias("a"), ip.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    pairs = pin(pairs)  # wedge + deg + anti all read the same edge set once
    # The wedge stage materializes Σ C(deg_mid, 2) rows — 148M at sf0.1
    # (avg co-purchase degree ~120), growing linearly with corpus copies.
    # 32 shuffle partitions put ~46M wedge rows per task at 10× and the
    # aggregate runs out of execution memory (measured: the scale-10
    # ladder OOM'd); partition the midpoint join wide enough that a task's
    # wedge slice (and the pipelined partial-agg hash state it feeds) stays
    # inside a task's share of execution memory. wedge_partitions sizes
    # this from the measured wedge volume (Σ C(deg, 2), one scalar over
    # the pinned edge set).
    adj = pairs.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    # deg feeds three consumers (the width scalar, du, dv) — pin one eval
    deg = pin(adj.groupBy("n").agg(F.count("*").cast("bigint").alias("d")))
    nparts = wedge_partitions(deg)
    adjw = adj.repartition(nparts, "nbr")
    wa, wb = adjw.alias("wa"), adjw.alias("wb")
    wedge = _wedge_common(wa, wb, nparts)
    cand = wedge.join(pairs, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    scored = cand.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "common",
        F.round(
            F.col("common").cast("double") / (F.col("du") + F.col("dv") - F.col("common")), 6
        ).alias("jaccard"),
    )
    w = Window.partitionBy("u").orderBy(F.col("jaccard").desc(), F.col("v").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("u").alias("node"),
            F.col("v").alias("cand"),
            "common",
            "jaccard",
            F.col("rn").cast("int").alias("rank"),
        )
    )


WEDGE_ROWS_PER_TASK = 2_000_000  # scale ladder: 1.48B wedges / 1024 tasks ≈ 1.45M/task ran inside a 0.75g/thread JVM share


def wedge_partitions(deg: "DataFrame", cap: int | None = None) -> int:
    """Partition width for the wedge join + count stages, sized by wedge
    VOLUME rather than the fleet width alone: at 32 partitions the sorter
    starved on a 1.48B-wedge graph, and the final agg OOM'd on a
    21.5B-wedge skewed replica. Estimates Σ C(min(deg, cap), 2) from the
    degree frame — one scalar aggregate over an already-pinned edge set —
    and sizes tasks to WEDGE_ROWS_PER_TASK wedge rows, capped at 65536.
    The floor is ``catalog.width`` (keep every core busy): a small graph
    on a session with a large shuffle width does not inherit the full
    fact-table width for a few million wedges."""
    d = F.least(F.col("d"), F.lit(cap)) if cap else F.col("d")
    est = (d * (d - F.lit(1)) / F.lit(2)).cast("double")
    wedges = int(deg.agg(F.sum(est)).first()[0] or 0)  # one scalar: the wedge-volume estimate
    return max(width(deg.sparkSession), min(65536, wedges // WEDGE_ROWS_PER_TASK + 1))


def _wedge_common(wa: "DataFrame", wb: "DataFrame", width: int) -> "DataFrame":
    """(u, v, common): wedge enumeration through shared midpoints + count.
    The count is pre-partitioned on (u, v) at the SAME width as the wedge
    join: at 32 final agg partitions a billion-wedge graph concentrates
    tens of millions of distinct (u, v) groups per task and the hash agg
    dies on JVM heap (measured: the skewed 10× replica, 21.5B exact
    wedges → Java heap OOM in the final agg) — the explicit
    hashpartitioning satisfies the aggregate's distribution, so Catalyst
    adds no second exchange and each of the ``width`` tasks (sized by
    wedge_partitions) aggregates a bounded group slice."""
    return (
        wa.join(wb, (F.col("wa.nbr") == F.col("wb.nbr")) & (F.col("wa.n") < F.col("wb.n")))
        .select(F.col("wa.n").alias("u"), F.col("wb.n").alias("v"))
        .repartition(width, "u", "v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("common"))
    )


LINKPRED_MIDPOINT_CAP = 128  # wedge participants per midpoint (deterministic)


@op(
    "graph_link_prediction_capped",
    oracle=f"""
    WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
    ),
    adj AS (SELECT u AS n, v AS nbr FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
    adjc AS (  -- per midpoint, the CAP smallest-id participants
      SELECT n, nbr FROM (
        SELECT n, nbr, row_number() OVER (PARTITION BY nbr ORDER BY n ASC) AS rn
        FROM adj
      ) WHERE rn <= {LINKPRED_MIDPOINT_CAP}
    ),
    wedge AS (
      SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS common
      FROM adjc a JOIN adjc b ON a.nbr = b.nbr AND a.n < b.n
      GROUP BY a.n, b.n
    ),
    cand AS (
      SELECT w.u, w.v, w.common FROM wedge w
      LEFT JOIN pairs p ON p.u = w.u AND p.v = w.v
      WHERE p.u IS NULL
    ),
    scored AS (
      SELECT c.u, c.v, c.common,
             round(CAST(c.common AS DOUBLE) / (du.d + dv.d - c.common), 6) AS jaccard
      FROM cand c JOIN deg du ON du.n = c.u JOIN deg dv ON dv.n = c.v
    )
    SELECT u AS node, v AS cand, common, jaccard, CAST(rn AS INT) AS rank FROM (
      SELECT u, v, common, jaccard,
             row_number() OVER (PARTITION BY u ORDER BY jaccard DESC, v ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def graph_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT form of graph_jaccard_link_prediction — the
    hub-midpoint cap its sibling's docstring names, implemented rather
    than hand-waved: each midpoint contributes only its LINKPRED_MIDPOINT_CAP
    (=128) smallest-id participants to wedge enumeration, so the wedge stage is
    bounded by Σ C(min(deg, CAP), 2) ≤ nodes × C(CAP, 2) — LINEAR in node
    count — instead of Σ C(deg, 2), which on the dense co-purchase graph
    (avg degree ~120) produced 1.48B wedge rows at sf0.1×10 and a 355 s
    wall for the exact form. CAP=128 sits above the fixture's typical
    degree (the cap exists for the power-law celebrity tail a real
    co-purchase graph has, not the uniformly dense synthetic one), so the
    fixture validates near-exactness where the cap barely binds; at
    deployment CAP is the recall-vs-cost knob. Common counts become LOWER BOUNDS (capped
    wedges can only miss co-occurrences) over the full-degree Jaccard
    denominator, so scores are conservative; the deterministic smallest-id
    cap keeps the op EXACT-oracled where a sampled cap would be ROWS.

    Quality is gated, not assumed:
    tests/test_invariants.py::test_capped_link_prediction_quality pins
    per-pair count soundness (capped common <= exact common) and top-3
    agreement with the exact sibling on the fixture."""
    li = load(spark, sf_dir).lineitem
    ip = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a, b = ip.alias("a"), ip.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    pairs = pin(pairs)
    adj = pairs.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    # deg feeds three consumers (the width scalar, du, dv) — pin one eval
    deg = pin(adj.groupBy("n").agg(F.count("*").cast("bigint").alias("d")))
    w_cap = Window.partitionBy("nbr").orderBy(F.col("n").asc())
    adjc = (
        adj.withColumn("rn", F.row_number().over(w_cap))
        .where(F.col("rn") <= LINKPRED_MIDPOINT_CAP)
        .select("n", "nbr")
    )
    wa, wb = adjc.alias("wa"), adjc.alias("wb")
    wedge = _wedge_common(wa, wb, wedge_partitions(deg, cap=LINKPRED_MIDPOINT_CAP))
    cand = wedge.join(pairs, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    scored = cand.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "common",
        F.round(
            F.col("common").cast("double") / (F.col("du") + F.col("dv") - F.col("common")), 6
        ).alias("jaccard"),
    )
    w = Window.partitionBy("u").orderBy(F.col("jaccard").desc(), F.col("v").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("u").alias("node"),
            F.col("v").alias("cand"),
            "common",
            "jaccard",
            F.col("rn").cast("int").alias("rank"),
        )
    )
