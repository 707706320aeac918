"""§2.N (round 5) — training-data curation extensions.

The ops a 100 TB pretraining-data pipeline runs between "crawl landed" and
"tokens shipped", beyond the §2.K/§2.M dedup/similarity/text surface:
repetition-quality signals (Gopher-style), exact shared-span detection and
train→heldout span-leakage audit (the Lee et al. "Deduplicating Training
Data" substring-level shape), deterministic train/valid/test hash-splitting
and source-cap mixture sampling, length-fence outliers, nearest-centroid
labeling and per-dimension health stats over embeddings, small-file
compaction, and events-side portrait/health composites (activity trend and
streaks, DAU/WAU stickiness, transition matrix, ingest anomaly z-scores,
basket-affinity lift, mergeable HLL rollups). The reference has no corpus
tooling (SURVEY §0.1 — its workload is the user-portrait tag pipeline);
these extend the engine the same way §2.K/§2.M did — EXACT-oracled
throughout except agg_hll_partitioned_merge (sketch estimates are
engine-specific; ROWS-only + mergeability/accuracy invariants).

Scale notes (100 TB):
- every doc-side op is explode -> groupBy with map-side combine; shuffle
  keys are (doc_id, gram) / (gram) / (label, pos) — high-cardinality, even;
- nothing collects data to the driver (the only scalar pulled is the
  30-day anchor date in the events ops — one row);
- sim_centroid_assign broadcasts a k×dim centroid table (tiny by
  construction) instead of shuffling the embedding side twice;
- doc_train_split's md5 assignment is embarrassingly parallel and
  engine-independent, so the SAME split reproduces on any engine that
  re-runs the manifest — the property that matters when a 100 TB corpus
  is re-sharded and the eval set must not move.

Determinism: ratios are int/int double divisions (exact IEEE on both
engines); centroid scores are micro-unit bigint × decimal products summed
in decimal — no float accumulation anywhere near a comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, pin
from ..registry import op
from .portrait import ANCHOR, consumption_cycle, days_since

HEX = "0123456789abcdef"


@op(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    ), bstat AS (
      SELECT doc_id,
             CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_bigrams
      FROM (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram)
      GROUP BY doc_id
    ), tstat AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS uniq_tokens
      FROM toks
    )
    SELECT t.doc_id, t.n_tokens, t.uniq_tokens, b.top_bigram_cnt,
           CAST(t.uniq_tokens AS DOUBLE) / t.n_tokens AS uniq_frac,
           CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams AS top_bigram_frac
    FROM tstat t JOIN bstat b USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition-quality signals (Gopher-style): unique-token
    fraction and most-frequent-bigram fraction — the two cheapest filters
    for boilerplate/degenerate text.

    Token stats are pure array functions (size / array_distinct — JVM-side,
    zero shuffle); only the bigram mode needs an explode, and its shuffle
    key (doc_id, bigram) is per-document so partial aggregation collapses
    almost everything map-side. Ratios are int/int double divisions —
    exact IEEE, identical on both engines.
    """
    d = load(spark, sf_dir).documents
    t = F.filter(F.split("text", " "), lambda x: x != "")
    tstat = d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("uniq_tokens"),
        t.alias("t"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.element_at("t", i + 1), F.element_at("t", i + 2)),
    )
    bstat = (
        # short-doc guard (1-token docs have no bigram; Spark sequence would
        # descend and element_at(t, 0) errors) — the inner join drops them
        # from the output on both engines identically
        tstat.where(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").cast("bigint").alias("top_bigram_cnt"),
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
        )
    )
    return tstat.drop("t").join(bstat, "doc_id").select(
        "doc_id",
        "n_tokens",
        "uniq_tokens",
        "top_bigram_cnt",
        (F.col("uniq_tokens").cast("double") / F.col("n_tokens")).alias("uniq_frac"),
        (F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


@op(
    "dedup_ngram_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
                                                 i -> array_to_string(t[i:i+7], ' ')))) AS span
      FROM toks
    )
    SELECT span,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM spans
    GROUP BY span
    HAVING count(*) >= 2
    """,
)
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-span detection: 8-token spans appearing in ≥2 distinct
    documents — the substring-level dup signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), which
    doc-level MinHash misses (two long docs sharing one quoted paragraph).

    Spans are built array-side and DISTINCT'd per doc BEFORE the explode, so
    a span repeated inside one doc costs one shuffled row, and the shuffle
    key is the span itself (high-cardinality, even). At 100 TB the span
    string would be replaced by its 128-bit hash to shrink shuffle width —
    same plan shape; the string form here keeps the oracle exact and the
    output human-auditable.
    """
    d = load(spark, sf_dir).documents
    t = F.filter(F.split("text", " "), lambda x: x != "")
    spans = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 8),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
        )
    )
    return (
        d.select(F.col("doc_id"), t.alias("t"))
        # guard: Spark sequence(0, n) DESCENDS when n < 0 (DuckDB's
        # generate_series returns empty) — docs under 8 tokens contribute
        # no spans on either engine, so filter them before the explode
        .where(F.size("t") >= 8)
        .select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


@op(
    "doc_train_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
             (instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
      FROM documents
    ), s AS (
      SELECT CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'valid'
                  ELSE 'test' END AS split, n_chars, n_tokens
      FROM h
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
    FROM s GROUP BY split
    """,
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (~80/10/10) from the first two
    hex chars of md5(doc_id) — 256 buckets, <205 train / <230 valid / rest
    test — plus per-split token/char budgets.

    The hex chars are mapped through an instr('0123...f') lookup rather than
    any engine hash() builtin, so the SAME document lands in the SAME split
    on Spark, DuckDB, or a bash md5sum — re-sharding a 100 TB corpus can
    never move the eval set. Embarrassingly parallel map + one 3-group
    aggregate; no row order anywhere.
    """
    d = load(spark, sf_dir).documents
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.instr(F.lit(HEX), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(HEX), F.substring(h, 2, 1)) - 1
    )
    split = (
        F.when(bucket < 205, "train").when(bucket < 230, "valid").otherwise("test")
    )
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return (
        d.select(split.alias("split"), n_tokens.alias("n_tokens"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
        )
    )


@op(
    "sim_centroid_assign",
    oracle="""
    WITH x AS (
      SELECT label, vec_id, p.pos, CAST(embedding[p.pos] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    ), cm AS (  -- micro-unit integer centroids, same convention as embed_label_centroid
      SELECT label AS c_label, pos,
             CAST(round(CAST(CAST(CAST(sum(CAST(val AS DECIMAL(38,8))) AS DOUBLE)
                              / count(*) AS VARCHAR) AS DOUBLE) * 1000000) AS BIGINT) AS cm
      FROM x GROUP BY label, pos
    ), scored AS (
      SELECT x.vec_id, x.label, cm.c_label,
             sum(CAST(x.val AS DECIMAL(18,8)) * cm.cm) AS score
      FROM x JOIN cm USING (pos)
      GROUP BY x.vec_id, x.label, cm.c_label
    ), best AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c_label ASC) AS rn
      FROM scored
    )
    SELECT label, c_label AS pred_label, CAST(count(*) AS BIGINT) AS n_vecs
    FROM best WHERE rn = 1
    GROUP BY label, c_label
    """,
)
def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid labeling: per-label mean vector (micro-unit bigint,
    the embed_label_centroid convention), every embedding assigned to the
    centroid with the highest inner product, output as a confusion matrix
    (true label × predicted label × count).

    The k×dim centroid table (640 rows here) broadcasts; the embedding side
    posexplodes once and aggregates on (vec_id, label) — map-side combine,
    even keys, no second pass over the vectors. Scores are DECIMAL(18,8) ×
    BIGINT products summed in decimal — fully exact, so the argmax (ties
    broken by label asc) is bitwise-reproducible on both engines; no float
    accumulation can flip an assignment. The per-vec_id row_number window is
    hash-partitioned on vec_id — no single-partition exchange.
    """
    e = load(spark, sf_dir).embeddings
    x = e.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos0", "valf")
    ).select(
        "label",
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("valf").cast("double").alias("val"),
    )
    cm = (
        x.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(
            F.round(
                (F.sum(F.col("val").cast("decimal(38,8)")).cast("double") / F.count("*"))
                .cast("double")
                * 1000000
            )
            .cast("bigint")
            .alias("cm")
        )
    )
    scored = (
        x.join(F.broadcast(cm), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("val").cast("decimal(18,8)") * F.col("cm")).alias("score"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("c_label").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("label", F.col("c_label").alias("pred_label"))
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )


@op(
    "tag_activity_trend",
    oracle="""
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
    w AS (
      SELECT e.user_id,
             CAST(count(*) FILTER (WHERE datediff('day', CAST(e.ts AS DATE), a.d) < 10) AS BIGINT) AS recent_events,
             CAST(count(*) FILTER (WHERE datediff('day', CAST(e.ts AS DATE), a.d) >= 10
                                     AND datediff('day', CAST(e.ts AS DATE), a.d) < 20) AS BIGINT) AS prior_events
      FROM events e CROSS JOIN anchor a
      GROUP BY e.user_id
    )
    SELECT user_id, recent_events, prior_events,
           CASE WHEN 5 * recent_events > 6 * prior_events THEN 'rising'
                WHEN 5 * recent_events < 4 * prior_events THEN 'declining'
                ELSE 'flat' END AS trend
    FROM w
    """,
)
def tag_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity trend tag: event count in the last 10 days vs the
    10 days before that (anchored at the corpus max date) — rising if
    >1.2× the prior window, declining if <0.8×, else flat. The thresholds
    are integer cross-multiplications (5r>6p / 5r<4p) — no float ratio, no
    division-by-zero case.

    One scalar anchor (a 1-row max) broadcast into a single groupBy over
    events with two conditional counts — one shuffle on user_id, map-side
    combinable. The trend CASE is free post-aggregation arithmetic.
    """
    e = load(spark, sf_dir).events
    anchor = e.agg(F.max(F.to_date("ts")).alias("d"))
    age = F.datediff(F.col("d"), F.to_date("ts"))
    w = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.when(age < 10, 1)).cast("bigint").alias("recent_events"),
            F.count(F.when((age >= 10) & (age < 20), 1))
            .cast("bigint")
            .alias("prior_events"),
        )
    )
    trend = (
        F.when(5 * F.col("recent_events") > 6 * F.col("prior_events"), "rising")
        .when(5 * F.col("recent_events") < 4 * F.col("prior_events"), "declining")
        .otherwise("flat")
    )
    return w.select("user_id", "recent_events", "prior_events", trend.alias("trend"))


@op(
    "events_dau_stickiness",
    oracle="""
    WITH d AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), dd AS (
      SELECT day, user_id,
             -- floor division, NOT //: DuckDB's // truncates toward zero, so a
             -- pre-epoch day (-3 // 7 = 0) would disagree with Spark's
             -- F.floor(-3/7) = -1. Floor matches Spark for any epoch.
             CAST(floor(datediff('day', DATE '2024-01-01', day) / 7.0) AS BIGINT) AS week_idx
      FROM d
    ), dau AS (
      SELECT week_idx, day, CAST(count(*) AS BIGINT) AS dau FROM dd GROUP BY week_idx, day
    ), wau AS (
      SELECT week_idx, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM dd GROUP BY week_idx
    )
    SELECT w.week_idx,
           CAST(sum(a.dau) AS BIGINT) AS sum_dau,
           CAST(count(*) AS BIGINT) AS n_days,
           w.wau,
           CAST(sum(a.dau) AS DOUBLE) / (count(*) * w.wau) AS stickiness
    FROM dau a JOIN wau w USING (week_idx)
    GROUP BY w.week_idx, w.wau
    """,
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly DAU/WAU stickiness: distinct (day, user) pairs bucketed into
    calendar-agnostic week indexes (days-since-2024-01-01 div 7 — NOT
    weekofyear, whose ISO conventions differ across engines), then
    mean-DAU / WAU per week — the standard product-health ratio, here a
    user-portrait engagement feature.

    The (day, user) distinct is the only wide shuffle; both aggregates
    derive from it (dau: by day; wau: distinct user by week) with map-side
    combine. stickiness = int/int double division — exact IEEE both
    engines. At 100 TB the distinct would come from a daily pre-aggregated
    (day, user) parquet instead of raw events — same plan from that point.
    """
    e = load(spark, sf_dir).events
    dd = (
        e.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .withColumn(
            "week_idx",
            F.floor(
                F.datediff("day", F.lit("2024-01-01").cast("date")) / 7
            ).cast("bigint"),
        )
        # dd feeds both the dau and wau branches; AQE does not reuse the
        # distinct's exchange across them, so pin one evaluation — at 100 TB
        # the (day, user) distinct over raw events is the dominant cost and
        # must not run twice. pin() = reliable checkpoint when a checkpoint
        # dir is configured (cluster-safe), localCheckpoint otherwise.
    )
    dd = pin(dd)
    dau = dd.groupBy("week_idx", "day").agg(F.count("*").cast("bigint").alias("dau"))
    wau = dd.groupBy("week_idx").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, "week_idx")
        .groupBy("week_idx", "wau")
        .agg(
            F.sum("dau").cast("bigint").alias("sum_dau"),
            F.count("*").cast("bigint").alias("n_days"),
            (F.sum("dau").cast("double") / (F.count("*") * F.col("wau"))).alias(
                "stickiness"
            ),
        )
        .select("week_idx", "sum_dau", "n_days", "wau", "stickiness")
    )


@op(
    "doc_source_cap_sample",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) // (2 * count(DISTINCT source)) AS cap
               FROM documents),
    ranked AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT r.source,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(count(*) FILTER (WHERE r.rk <= n.cap) AS BIGINT) AS n_after,
           CAST(sum(r.n_tokens) FILTER (WHERE r.rk <= n.cap) AS BIGINT) AS tokens_after
    FROM ranked r CROSS JOIN n
    GROUP BY r.source
    """,
)
def doc_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-represented-source downsampling: cap every source at
    total_docs / (2 × n_sources) documents, keeping the cap lowest
    md5(doc_id) per source — the standard way a pretraining mixture stops
    one crawl domain from dominating the token budget.

    Selection is rank-by-hash inside a source-partitioned window (hash
    order is uniform, so the kept subset is an unbiased sample, yet 100%
    reproducible on any engine). The window partitions on source — at
    100 TB a single source can still be big, but the window computes only
    row_number (streaming, no frame buffering); the alternative
    per-source quantile cutoff is the same machinery with approx
    thresholds. One scalar (cap) broadcast; per-source aggregate out.
    """
    d = load(spark, sf_dir).documents
    # integer `div`, not double-divide-then-cast: at ~2^53-scale counts the
    # double quotient's rounding can cross an integer boundary and shift the
    # cap by 1 vs the oracle's exact integer //. `div` is exact at any scale.
    cap_df = d.agg(
        F.expr("CAST(count(*) AS BIGINT) div (2 * count(DISTINCT source))").alias(
            "cap"
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    ranked = d.select(
        "source", n_tokens.alias("n_tokens"), F.row_number().over(w).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(cap_df))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_before"),
            F.count(F.when(F.col("rk") <= F.col("cap"), 1))
            .cast("bigint")
            .alias("n_after"),
            F.sum(F.when(F.col("rk") <= F.col("cap"), F.col("n_tokens")))
            .cast("bigint")
            .alias("tokens_after"),
        )
    )


@op(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS prob
    FROM t
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    count of (prev event_type → next event_type) steps, normalized into
    row-stochastic probabilities — the behavioral-path feature a portrait
    system feeds into next-action models.

    The lag window partitions on user_id (hash-partitioned, streaming
    frame); transitions aggregate on a 25-cell key; the probability
    normalization is a window over that tiny aggregate, so the only
    whole-data move is the one user_id shuffle. n is exact bigint and
    prob = int/int double division — exact IEEE on both engines.
    """
    e = load(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp)).alias("prob"),
    )


@op(
    "tag_basket_affinity",
    oracle="""
    WITH cb AS (
      SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (SELECT CAST(count(DISTINCT custkey) AS BIGINT) AS n_cust FROM cb),
    single AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_brand FROM cb GROUP BY brand
    ), pair AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(count(*) AS BIGINT) AS n_both
      FROM cb a JOIN cb b ON a.custkey = b.custkey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT p.brand_a, p.brand_b, p.n_both,
           CAST(p.n_both * n.n_cust AS DOUBLE) / (sa.n_brand * sb.n_brand) AS lift
    FROM pair p
    JOIN single sa ON sa.brand = p.brand_a
    JOIN single sb ON sb.brand = p.brand_b
    CROSS JOIN n
    WHERE p.n_both >= 20
    """,
)
def tag_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-affinity mining (market-basket lift): for every brand pair
    bought by ≥20 common customers, lift = P(a∧b)/(P(a)·P(b)) — the
    association-rule tag a portrait system uses for cross-sell audiences.

    The (customer, brand) distinct is the co-location step: the pair
    self-join keys on custkey, so each customer's pairs are generated
    inside one partition — the blowup is C(distinct brands per customer,
    2), bounded by the 25-brand universe, never by order volume. Brand
    marginals broadcast back onto the 300-row pair table. lift is
    exact-integer cross-multiplication divided once into a double.
    """
    t = load(spark, sf_dir)
    cb = (
        t.orders.select("o_custkey", "o_orderkey")
        .join(t.lineitem.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("o_custkey").alias("custkey"), F.col("p_brand").alias("brand"))
        .distinct()
        # cb feeds four consumers (n, single, and both self-join sides);
        # pin() materializes ONE evaluation of the 3-table join + distinct
        # instead of re-scanning orders/lineitem/part four times (reliable
        # checkpoint when a dir is configured, localCheckpoint otherwise).
    )
    cb = pin(cb)
    n = cb.agg(F.countDistinct("custkey").cast("bigint").alias("n_cust"))
    single = cb.groupBy("brand").agg(F.count("*").cast("bigint").alias("n_brand"))
    a, b = cb.alias("a"), cb.alias("b")
    pair = (
        a.join(b, (F.col("a.custkey") == F.col("b.custkey"))
               & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= 20)
    )
    return (
        pair.join(F.broadcast(single.withColumnRenamed("brand", "brand_a")
                              .withColumnRenamed("n_brand", "na")), "brand_a")
        .join(F.broadcast(single.withColumnRenamed("brand", "brand_b")
                          .withColumnRenamed("n_brand", "nb")), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            ((F.col("n_both") * F.col("n_cust")).cast("double")
             / (F.col("na") * F.col("nb"))).alias("lift"),
        )
    )


@op(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP)
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS snn
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n,
           round((CAST(d.n AS DOUBLE) - CAST(m.sn AS DOUBLE) / m.n_days)
                 / sqrt((CAST(m.snn AS DOUBLE) - CAST(m.sn AS DOUBLE) * m.sn / m.n_days)
                        / (m.n_days - 1)), 6) AS z
    FROM daily d JOIN m USING (event_type)
    WHERE abs((CAST(d.n AS DOUBLE) - CAST(m.sn AS DOUBLE) / m.n_days)
              / sqrt((CAST(m.snn AS DOUBLE) - CAST(m.sn AS DOUBLE) * m.sn / m.n_days)
                     / (m.n_days - 1))) > 2.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: daily event counts per type, flagged when
    the day's count is >2 sample standard deviations from that type's mean
    — the monitoring query a portrait pipeline runs before trusting a
    day's ingest.

    Moments are EXACT integer sums (Σn, Σn²) so mean/std derive from
    deterministic bigints — no Welford-vs-two-pass engine drift; the one
    double expression per row is identical IEEE arithmetic on both
    engines, belt-and-braces rounded at 6dp. Two map-side-combinable
    aggregates (event_type, day) then (event_type); the per-type moment
    table (5 rows) broadcasts back onto the daily counts.
    """
    e = load(spark, sf_dir).events
    # day emitted as timestamp — the repo's cross-engine date convention
    # (pandas date objects vs datetime64 stringify differently in the
    # driver canon; timestamps agree)
    daily = e.groupBy(
        "event_type", F.to_date("ts").cast("timestamp").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("snn"),
    )
    mean = F.col("sn").cast("double") / F.col("n_days")
    var = (
        F.col("snn").cast("double") - F.col("sn").cast("double") * F.col("sn") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        daily.join(F.broadcast(m), "event_type")
        .where(F.abs(z) > 2.0)
        .select("event_type", "day", "n", F.round(z, 6).alias("z"))
    )


@op(
    "doc_length_outliers",
    oracle="""
    WITH q AS (
      SELECT round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS q1,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS q3
      FROM documents
    )
    SELECT d.doc_id, d.n_chars,
           CASE WHEN CAST(d.n_chars AS DOUBLE) < q.q1 - 0.5 * (q.q3 - q.q1) THEN 'short'
                ELSE 'long' END AS fence
    FROM documents d CROSS JOIN q
    WHERE CAST(d.n_chars AS DOUBLE) < q.q1 - 0.5 * (q.q3 - q.q1)
       OR CAST(d.n_chars AS DOUBLE) > q.q3 + 0.5 * (q.q3 - q.q1)
    """,
)
def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR-fence length outliers: docs outside [Q1 − 0.5·IQR, Q3 + 0.5·IQR]
    of the corpus char-length distribution — the first curation cut against
    truncated fragments and concatenation blobs. (The classic Tukey
    multiplier is 1.5; this corpus's synthetic lengths are near-uniform,
    so the fence uses 0.5·IQR to keep the op's output non-degenerate —
    the multiplier is the only knob.)

    Exact quartiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    agg_percentile convention, 6dp) computed once into a 1-row frame that
    broadcasts into the filter — the corpus is scanned once, filtered
    map-side. At 100 TB the quartiles would come from percentile_approx
    (t-digest, mergeable); the fence logic is unchanged.
    """
    d = load(spark, sf_dir).documents
    q = d.agg(
        F.round(F.expr("percentile(CAST(n_chars AS DOUBLE), 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(CAST(n_chars AS DOUBLE), 0.75)"), 6).alias("q3"),
    )
    nc = F.col("n_chars").cast("double")
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 0.5 * iqr, F.col("q3") + 0.5 * iqr
    return (
        d.crossJoin(F.broadcast(q))
        .where((nc < lo) | (nc > hi))
        .select(
            "doc_id",
            "n_chars",
            F.when(nc < lo, "short").otherwise("long").alias("fence"),
        )
    )


@op(
    "dedup_split_leakage",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN (instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                       + instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 < 205
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    ), toks AS (
      SELECT doc_id, split, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM s
    ), spans AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
                                                 i -> array_to_string(t[i:i+7], ' ')))) AS span
      FROM toks
    ), leak AS (
      SELECT span,
             CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train_docs,
             CAST(count(*) FILTER (WHERE split = 'heldout') AS BIGINT) AS n_heldout_docs
      FROM spans GROUP BY span
      HAVING count(*) FILTER (WHERE split = 'train') >= 1
         AND count(*) FILTER (WHERE split = 'heldout') >= 1
    )
    SELECT span, n_train_docs, n_heldout_docs FROM leak
    """,
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→heldout leakage audit: 8-token spans that occur in BOTH sides
    of the doc_train_split md5 partition (valid+test folded into 'heldout')
    — the check that the eval set isn't memorizable from training data.
    Composes the split arithmetic of doc_train_split with the span
    machinery of dedup_ngram_spans, which is the point: the audit runs
    against the exact split manifest that ships.

    Same single-scan explode → span-keyed aggregate as dedup_ngram_spans;
    the split tag rides along as a 1-byte column, and leakage is two
    conditional counts on the span key — no join between the sides.
    """
    d = load(spark, sf_dir).documents
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.instr(F.lit(HEX), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(HEX), F.substring(h, 2, 1)) - 1
    )
    split = F.when(bucket < 205, "train").otherwise("heldout")
    t = F.filter(F.split("text", " "), lambda x: x != "")
    spans = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 8),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
        )
    )
    return (
        d.select(split.alias("split"), t.alias("t"))
        .where(F.size("t") >= 8)  # same short-doc sequence guard as dedup_ngram_spans
        .select("split", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.count(F.when(F.col("split") == "train", 1))
            .cast("bigint")
            .alias("n_train_docs"),
            F.count(F.when(F.col("split") == "heldout", 1))
            .cast("bigint")
            .alias("n_heldout_docs"),
        )
        .where((F.col("n_train_docs") >= 1) & (F.col("n_heldout_docs") >= 1))
    )


@op(
    "tag_activity_streak",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS dayno
      FROM events
    ), g AS (
      SELECT user_id, dayno,
             dayno - row_number() OVER (PARTITION BY user_id ORDER BY dayno) AS grp
      FROM d
    ), streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len,
             CAST(min(dayno) AS BIGINT) AS streak_start
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, streak_len, streak_start,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY streak_len DESC, streak_start ASC) AS BIGINT) AS rn
    FROM streaks
    QUALIFY rn = 1
    """,
)
def tag_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern (island id = dayno − row_number within user),
    a stock engagement tag in portrait systems.

    Day numbers are absolute datediffs from a fixed epoch (no calendar
    dialect). Both windows partition on user_id (hash-partitioned,
    streaming row_number — no frame buffering, no global sort), and the
    distinct/windows/groupBy all share the user_id shuffle key so AQE
    coalesces them onto one partitioning. Tie-break: earliest streak wins.
    """
    e = load(spark, sf_dir).events
    d = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("bigint")
            .alias("dayno"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dayno")
    g = d.withColumn("grp", F.col("dayno") - F.row_number().over(w))
    streaks = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("streak_len"),
        F.min("dayno").cast("bigint").alias("streak_start"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("streak_start").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") == 1)
        .select("user_id", "streak_len", "streak_start", "rn")
    )


@op(
    "embed_dim_stats",
    oracle="""
    WITH x AS (
      SELECT p.pos, CAST(embedding[p.pos] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    )
    SELECT pos,
           CAST(CAST(CAST(sum(CAST(val AS DECIMAL(38,8))) AS DOUBLE)
                     / count(*) AS VARCHAR) AS DOUBLE) AS mean_val,
           round(min(val), 6) AS min_val,
           round(max(val), 6) AS max_val,
           CAST(count(*) FILTER (WHERE abs(val) < 1e-6) AS BIGINT) AS n_near_zero
    FROM x GROUP BY pos
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding diagnostics: decimal-exact mean, min/max,
    and a dead-dimension counter (|v| < 1e-6) — the whitening /
    collapsed-dimension health check run before similarity indexes are
    built on a new embedding model.

    posexplode → one (pos)-keyed aggregate, 64 groups, map-side combined;
    mean uses the repo's decimal-sum + text-round-trip double convention
    (exact, order-independent). Output is dim-sized (64 rows) regardless
    of corpus scale.
    """
    e = load(spark, sf_dir).embeddings
    x = e.select(F.posexplode("embedding").alias("pos0", "valf")).select(
        (F.col("pos0") + 1).alias("pos"), F.col("valf").cast("double").alias("val")
    )
    return x.groupBy("pos").agg(
        (F.sum(F.col("val").cast("decimal(38,8)")).cast("double") / F.count("*"))
        .cast("double")
        .alias("mean_val"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
        F.count(F.when(F.abs("val") < 1e-6, 1)).cast("bigint").alias("n_near_zero"),
    )


@op(
    "sink_compact_small_files",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the operational fix for the classic HDFS/
    object-store pathology where a streaming or over-parallel writer leaves
    thousands of KB-sized parquet files and every downstream scan drowns in
    file-open overhead. Stage 1 deliberately writes events as 64 small
    files; stage 2 compacts by reading back and rewriting at a target
    file count (repartition(4)) — at 100 TB the same job runs per
    partition directory with repartition sized by bytes/target-file-size,
    exactly this plan shape. Returned relation aggregates from the
    COMPACTED output, so the oracle certifies the rewrite lost nothing;
    the file-count collapse itself is asserted in tests/test_invariants.py.
    """
    import os as _os

    from .scans import _scratch

    e = load(spark, sf_dir).events.select("event_id", "event_type", "value")
    small = _scratch("compact_small")
    e.repartition(64).write.mode("overwrite").parquet(small)
    compacted = _scratch("compact_out")
    spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(compacted)
    out = spark.read.parquet(compacted)
    return out.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
    )


@op("agg_hll_partitioned_merge", oracle=None)
def agg_hll_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern: each
    day partition aggregates its own HLL sketch (constant memory,
    map-side combinable), the union of daily sketches answers
    "distinct users this month" WITHOUT re-touching raw events, and the
    merged estimate is bit-identical to sketching the whole corpus in one
    pass (asserted in tests/test_invariants.py, alongside a ±5% accuracy
    bound vs the exact count). Output: per-day estimates plus a 'merged'
    row from hll_union_agg over the 30 daily sketches.

    ROWS-only by design (SURVEY §2.0 rule 5): Spark's DataSketches HLL and
    DuckDB's HLL implementation produce different estimates; the estimator
    itself is deterministic for fixed input + lgK, which the invariant
    tests pin.
    """
    e = load(spark, sf_dir).events
    daily = e.groupBy(F.to_date("ts").cast("timestamp").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("scope"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_users"),
        "n_events",
    )
    merged = daily.agg(
        F.lit("merged").alias("scope"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    return per_day.unionByName(merged)


_CYCLE_CASE = """CASE WHEN d <= 30 THEN 'active_30d'
                      WHEN d <= 90 THEN 'active_quarter'
                      WHEN d <= 180 THEN 'active_half_year'
                      WHEN d <= 365 THEN 'active_year'
                      ELSE 'dormant' END"""


@op(
    "tag_funnel_windowed",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), v AS (
      SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.us) AS c_us
      FROM e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.us > v.v_us
        AND e.us <= v.v_us + 86400000000 GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.us) AS p_us
      FROM e JOIN c ON c.user_id = e.user_id
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.c_us
        AND e.us <= v.v_us + 86400000000 GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 'view' AS stage, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      UNION ALL SELECT 'view>click_24h', CAST((SELECT count(*) FROM c) AS BIGINT)
      UNION ALL SELECT 'view>click>purchase_24h', CAST((SELECT count(*) FROM p) AS BIGINT)
    )
    """,
)
def tag_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel (the ClickHouse windowFunnel shape):
    view → click → purchase where every later stage must land within 24 h
    of the user's FIRST view — conversion measured inside an attribution
    window, not ever-after (tag_funnel is the unbounded form).

    Same plan skeleton as tag_funnel, with two scale refinements (VERDICT
    r7 item 5 — the unrefined form was the worst 100x ladder row at 11.1x
    because it pinned first-view rows for EVERY viewing user before later
    stages filtered):
      - the stage-1 count is a plain count-distinct aggregate over view
        events — nothing to materialize for users who never advance;
      - the pinned per-user first-view frame (which feeds the click join
        and the purchase join's window bound) is PRE-FILTERED by a semi
        join to users with at least one click, so the materialization
        shrinks with the conversion rate instead of the audience size.
    Every user reaching stage 2 or 3 must have clicked, so the semi join
    drops no one the later stages can use; the window bound changes no
    join key, so the 100 TB shape is otherwise identical to tag_funnel.
    """
    e = load(spark, sf_dir).events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w_us = 86_400_000_000  # 24 h in microseconds
    n_view = e.where(F.col("event_type") == "view").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    clickers = e.where(F.col("event_type") == "click").select("user_id")
    v = pin(
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
        .join(clickers, "user_id", "left_semi")
    )
    c = pin(
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((F.col("us") > F.col("v_us")) & (F.col("us") <= F.col("v_us") + w_us))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .join(v, "user_id")
        .where((F.col("us") > F.col("c_us")) & (F.col("us") <= F.col("v_us") + w_us))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    rows = [
        n_view.select(F.lit("view").alias("stage"), "n_users"),
        c.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit("view>click_24h").alias("stage"), "n_users"
        ),
        p.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit("view>click>purchase_24h").alias("stage"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@op(
    "tag_refresh_delta",
    oracle=f"""
    WITH old AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-08-02') AS d
      FROM orders GROUP BY o_custkey
    ), new AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-09-01') AS d
      FROM orders GROUP BY o_custkey
    ), ob AS (SELECT c_custkey, {_CYCLE_CASE} AS cycle FROM old),
       nb AS (SELECT c_custkey, {_CYCLE_CASE} AS cycle FROM new)
    SELECT ob.c_custkey, ob.cycle AS old_cycle, nb.cycle AS new_cycle
    FROM ob JOIN nb USING (c_custkey)
    WHERE ob.cycle <> nb.cycle
    """,
)
def tag_refresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly tag-refresh delta — the reference's core operating loop: the
    consumption-cycle tag recomputed at a new anchor date (2001-09-01 vs
    2001-08-02, a 30-day-later run), emitting only the users whose bucket
    CHANGED, i.e. the rows the profile store actually has to rewrite.
    At 100 TB the delta is what keeps the nightly job O(changed), and this
    op is the query that produces it.

    Both anchors' cycles come from one aggregate on o_custkey, so the diff
    is a filter on that row: one scan, one shuffle, no join.
    """
    per = load(spark, sf_dir).orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        consumption_cycle(days_since("2001-08-02")).alias("old_cycle"),
        consumption_cycle(days_since(ANCHOR)).alias("new_cycle"),
    )
    return per.where(F.col("old_cycle") != F.col("new_cycle"))


@op(
    "fn_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CASE WHEN regexp_matches(p_brand, '^Brand#[12]') THEN 1 ELSE 0 END AS low_brand,
           CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function kit over part strings: anchored extract, global
    replace, prefix match flag, and extract-all counting. Patterns are kept
    to character classes + anchors — the subset where Java regex (Spark)
    and RE2 (DuckDB) are semantically identical; DuckDB's regexp_replace
    needs the explicit 'g' flag to match Spark's replace-all default.
    Pure map pass — no shuffle, pushdown-friendly."""
    p = load(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_brand").rlike("^Brand#[12]"), 1).otherwise(0).alias("low_brand"),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).cast("bigint").alias("n_words"),
    )


@op(
    "events_path_topk",
    oracle="""
    WITH r AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
             row_number() OVER (PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ), p AS (
      SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 8 GROUP BY user_id, day
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
    FROM p GROUP BY path
    ORDER BY n_user_days DESC, path
    LIMIT 20
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-day journey paths (r6 addition): the full ordered
    event-type path of each user-day (first 8 events), counted across all
    user-days — the whole-journey complement of events_transition_matrix's
    first-order view, and the classic "what do users actually do in a
    session" portrait report.

    One (user_id, day) window partitioning feeds both the rn cap and the
    ordered path assembly (array_sort over (rn, type) structs — rn is
    unique, so the sort is total); paths are ≤8 short enum strings, so the
    path-count shuffle key is bounded-width however large the corpus. The
    global top-20 compiles to TakeOrderedAndProject (distributed partial
    top-k, no CollectLimit — guarded registry-wide in tests/test_plans.py).
    """
    e = load(spark, sf_dir).events
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    paths = (
        e.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 8)
        .groupBy("user_id", "day")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s.event_type,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), F.col("path"))
        .limit(20)
    )


@op(
    "doc_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
                                                 i -> array_to_string(t[i:i+7], ' ')))) AS span
      FROM toks WHERE len(t) >= 8
    ), firsts AS (
      SELECT doc_id, span,
             min(doc_id) OVER (PARTITION BY span) AS first_doc
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE doc_id > first_doc) AS BIGINT) AS n_repeated,
           CAST(count(*) FILTER (WHERE doc_id = first_doc) AS DOUBLE) / count(*) AS novel_frac
    FROM firsts
    GROUP BY doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc ingestion novelty (r6 addition): the fraction of a document's
    distinct 8-token spans whose FIRST occurrence (by doc_id = arrival
    order) is an earlier document — Lee et al. 2022's "how much of the new
    shard is actually new" curve, the number that decides when a crawl
    source has been exhausted.

    Same span machinery as dedup_ngram_spans (per-doc distinct spans built
    array-side before the explode): one span-keyed groupBy for the global
    first-seen doc, one span-keyed join back, one doc-keyed aggregate.
    All three shuffles are high-cardinality and even; the 100× corpus
    ladder for the span family (PLANS.md) is the scale evidence.
    novel_frac is int/int double division — exact IEEE on both engines."""
    d = load(spark, sf_dir).documents
    t = F.filter(F.split("text", " "), lambda x: x != "")
    span_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 8),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
        )
    )
    spans = (
        d.select("doc_id", t.alias("t"))
        .where(F.size("t") >= 8)
        .select("doc_id", F.explode(span_arr).alias("span"))
    )
    firsts = spans.groupBy("span").agg(F.min("doc_id").alias("first_doc"))
    return (
        spans.join(firsts, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.count(F.when(F.col("doc_id") > F.col("first_doc"), 1))
            .cast("bigint")
            .alias("n_repeated"),
            (
                F.count(F.when(F.col("doc_id") == F.col("first_doc"), 1)).cast("double")
                / F.count("*")
            ).alias("novel_frac"),
        )
    )


@op(
    "doc_span_removal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), occ0 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 7),
                    s -> {'s': s, 'span': array_to_string(t[s:s+7], ' ')})) AS o
      FROM toks WHERE len(t) >= 8
    ), occ AS (
      SELECT doc_id, o.s AS s, o.span AS span FROM occ0
    ), firsts AS (
      SELECT span, min(doc_id) AS first_doc FROM occ GROUP BY span
    ), removed AS (
      SELECT DISTINCT doc_id, j FROM (
        SELECT o.doc_id AS doc_id, unnest(generate_series(o.s, o.s + 7)) AS j
        FROM occ o JOIN firsts f ON f.span = o.span
        WHERE o.doc_id > f.first_doc
      )
    ), tok0 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t)),
                    j -> {'j': j, 'tok': t[j]})) AS p
      FROM toks WHERE len(t) >= 1
    ), tok AS (
      SELECT doc_id, p.j AS j, p.tok AS tok FROM tok0
    ), kept AS (
      SELECT k.doc_id, k.j, k.tok
      FROM tok k LEFT JOIN removed r ON r.doc_id = k.doc_id AND r.j = k.j
      WHERE r.j IS NULL
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY j)) AS clean_md5
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           COALESCE(a.clean_md5, md5('')) AS clean_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup OUTPUT (r7 addition): every 8-token span whose
    first occurrence (by doc_id = arrival order) is an EARLIER document is
    cut from the text, and the surviving tokens re-joined — the actual
    cleaned corpus of Lee et al. 2022's ExactSubstr pipeline, completing
    the family dedup_ngram_spans (detection) and doc_ngram_novelty
    (scoring) started. A token survives iff no duplicated span covers its
    position; docs whose every span is seen earlier clean to the empty
    string but stay in the output (training shards must not silently drop
    rows). Emits (n_tokens, n_kept, md5(cleaned)) per doc — the md5 makes
    the whole reconstructed text hash-gated cross-engine without shipping
    megabytes through the differential harness.

    Plan: one span-keyed groupBy for the global first-seen map (the same
    high-cardinality even shuffle as dedup_ngram_spans), one join back,
    then the per-doc removal runs ARRAY-side: duplicated span starts
    collect_set into one row per doc, and a JVM higher-order filter keeps
    token j unless some start s covers it (s <= j <= s+7). That inner
    exists() is O(tokens x dup_spans) per doc — at 100 TB the sorted
    dup_starts array makes it a merge-scan, and the span string becomes a
    128-bit hash to shrink shuffle width; the plan shape is unchanged.
    Docs under 8 tokens never enter the span machinery (Spark sequence()
    would descend; DuckDB generate_series returns empty) and pass through
    verbatim via the left join."""
    d = load(spark, sf_dir).documents
    t = F.filter(F.split("text", " "), lambda x: x != "")
    docs = d.select("doc_id", t.alias("t"))
    occ = (
        docs.where(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 7),
                    lambda s: F.struct(
                        s.alias("s"), F.concat_ws(" ", F.slice("t", s, 8)).alias("span")
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", "o.s", "o.span")
    )
    firsts = occ.groupBy("span").agg(F.min("doc_id").alias("first_doc"))
    dup_starts = (
        occ.join(firsts, "span")
        .where(F.col("doc_id") > F.col("first_doc"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("s")).alias("dup_starts"))
    )
    starts = F.coalesce(F.col("dup_starts"), F.array().cast("array<int>"))
    covered = lambda j: F.exists(starts, lambda s: (s <= j) & (j <= s + 7))
    kept = F.filter(
        F.transform("t", lambda tok, i: F.struct((i + 1).alias("j"), tok.alias("tok"))),
        lambda p: ~covered(p.j),
    )
    return docs.join(dup_starts, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda p: p.tok))).alias("clean_md5"),
    )


@op(
    "doc_mixture_weights",
    oracle="""
    WITH stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT stats.*, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS r
      FROM stats
    ), tot AS (
      SELECT CAST(sum(r) AS DOUBLE) AS tot_r FROM ranked
    ), p AS (
      SELECT ranked.*, r / tot.tot_r AS tf FROM ranked CROSS JOIN tot
    ), nmin AS (
      SELECT min(n_tokens / tf) AS n_total FROM p
    )
    SELECT source, n_docs, n_tokens,
           round(tf, 6) AS target_frac,
           round(tf * nmin.n_total / n_tokens, 6) AS sample_weight,
           CAST(floor(tf * nmin.n_total) AS BIGINT) AS take_tokens
    FROM p CROSS JOIN nmin
    """,
)
def doc_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture downsampling weights (r7 addition): given a target
    token mixture over sources, compute each source's sampling weight for
    the LARGEST corpus that achieves the target proportions by
    downsampling only — N_total = min_i(tokens_i / p_i), take_i = p_i ×
    N_total, weight_i = take_i / tokens_i (the binding source gets weight
    1). This is the mixing step every pretraining pipeline runs before
    doc_source_cap_sample-style selection; the weights feed a
    deterministic hash sampler exactly like doc_train_split's buckets.

    Target proportions here derive from each source's alphabetical rank
    (p_i = rank / Σranks) so the fixture is engine-independent without an
    inline config table; a deployment passes real mixture weights. Plan:
    one map-side-combinable groupBy over documents (pinned — its 20-row
    output feeds the ranking, two scalar aggregates, and the final
    projection), then everything downstream runs on #sources rows — the
    global row_number window is over that tiny frame, not data."""
    d = load(spark, sf_dir).documents
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    stats = pin(
        d.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("n_tokens"),
        )
    )
    ranked = stats.withColumn(
        "r", F.row_number().over(Window.orderBy("source")).cast("bigint")
    )
    tot = ranked.agg(F.sum("r").cast("double").alias("tot_r"))
    p = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "tf", F.col("r").cast("double") / F.col("tot_r")
    )
    nmin = p.agg(F.min(F.col("n_tokens") / F.col("tf")).alias("n_total"))
    return p.crossJoin(F.broadcast(nmin)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("tf", 6).alias("target_frac"),
        F.round(F.col("tf") * F.col("n_total") / F.col("n_tokens"), 6).alias("sample_weight"),
        F.floor(F.col("tf") * F.col("n_total")).cast("bigint").alias("take_tokens"),
    )


@op(
    "doc_intra_span_removal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), occ0 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 7),
                    s -> {'s': s, 'span': array_to_string(t[s:s+7], ' ')})) AS o
      FROM toks WHERE len(t) >= 8
    ), occ AS (
      SELECT doc_id, o.s AS s, o.span AS span FROM occ0
    ), firsts AS (
      SELECT doc_id, span, min(s) AS first_s FROM occ GROUP BY doc_id, span
    ), removed AS (
      SELECT DISTINCT doc_id, j FROM (
        SELECT o.doc_id AS doc_id, unnest(generate_series(o.s, o.s + 7)) AS j
        FROM occ o JOIN firsts f ON f.doc_id = o.doc_id AND f.span = o.span
        WHERE o.s > f.first_s
      )
    ), tok0 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t)),
                    j -> {'j': j, 'tok': t[j]})) AS p
      FROM toks WHERE len(t) >= 1
    ), tok AS (
      SELECT doc_id, p.j AS j, p.tok AS tok FROM tok0
    ), kept AS (
      SELECT k.doc_id, k.j, k.tok
      FROM tok k LEFT JOIN removed r ON r.doc_id = k.doc_id AND r.j = k.j
      WHERE r.j IS NULL
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY j)) AS clean_md5
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           COALESCE(a.clean_md5, md5('')) AS clean_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_intra_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-span removal (r7 addition): every 8-token
    span occurrence whose FIRST occurrence is earlier in the SAME document
    is cut, surviving tokens re-joined — the intra-doc half of ExactSubstr
    dedup (boilerplate loops, chorus repetition, templated listings), where
    doc_span_removal handles the cross-doc half. A token survives iff no
    repeated-span occurrence covers its position.

    Plan: same machinery as doc_span_removal but the first-seen map is
    keyed (doc_id, span) — the shuffle key carries the doc id, so this is
    embarrassingly parallel BY DOCUMENT (no cross-doc state at all; at
    100 TB the groupBy partial-aggregates map-side and nothing global is
    built). Emits (n_tokens, n_kept, md5(cleaned)) like its sibling."""
    d = load(spark, sf_dir).documents
    t = F.filter(F.split("text", " "), lambda x: x != "")
    docs = d.select("doc_id", t.alias("t"))
    occ = (
        docs.where(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 7),
                    lambda s: F.struct(
                        s.alias("s"), F.concat_ws(" ", F.slice("t", s, 8)).alias("span")
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", "o.s", "o.span")
    )
    firsts = occ.groupBy("doc_id", "span").agg(F.min("s").alias("first_s"))
    dup_starts = (
        occ.join(firsts, ["doc_id", "span"])
        .where(F.col("s") > F.col("first_s"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("s")).alias("dup_starts"))
    )
    starts = F.coalesce(F.col("dup_starts"), F.array().cast("array<int>"))
    covered = lambda j: F.exists(starts, lambda s: (s <= j) & (j <= s + 7))
    kept = F.filter(
        F.transform("t", lambda tok, i: F.struct((i + 1).alias("j"), tok.alias("tok"))),
        lambda p: ~covered(p.j),
    )
    return docs.join(dup_starts, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda p: p.tok))).alias("clean_md5"),
    )


@op(
    "events_heatmap_hour_dow",
    oracle="""
    SELECT (datediff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 3) % 7 AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap (r6 addition): event and
    distinct-user counts per (dow, hour) cell — the standard
    when-are-users-active portrait panel, and the load profile capacity
    planning reads.

    dow is computed as (days-since-1970-01-01 + 3) % 7 with Monday = 0 —
    pure integer arithmetic identical on any engine (1970-01-01 was a
    Thursday), instead of dayofweek()/weekday() whose start-of-week
    conventions differ across engines (same calendar-agnostic policy as
    tag_retention's epoch weeks). One shuffle onto a fixed 168-cell grid;
    count_distinct is the only non-map-side-combinable part, and it keys
    on the same tiny grid. hour() agrees because the session timezone is
    pinned UTC (session.py)."""
    e = load(spark, sf_dir).events
    dow = (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 3) % 7
    return (
        e.select(
            dow.cast("bigint").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
            "user_id",
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


_US_PER_WEEK = 7 * 86_400 * 1_000_000  # same epoch-week convention as tag_retention


@op(
    "events_growth_accounting",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_WEEK} AS week
      FROM events
    ), seq AS (
      SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS first_week,
             lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev,
             lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
      FROM w
    ), mx AS (SELECT max(week) AS maxw FROM w),
    stages AS (
      SELECT week, CASE WHEN week = first_week THEN 'new'
                        WHEN prev = week - 1 THEN 'retained'
                        ELSE 'resurrected' END AS stage
      FROM seq
      UNION ALL
      SELECT week + 1 AS week, 'churned' AS stage
      FROM seq CROSS JOIN mx
      WHERE (nxt IS NULL OR nxt > week + 1) AND week < maxw
    )
    SELECT week,
           CAST(count(*) FILTER (WHERE stage = 'new') AS BIGINT) AS n_new,
           CAST(count(*) FILTER (WHERE stage = 'retained') AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (WHERE stage = 'resurrected') AS BIGINT) AS n_resurrected,
           CAST(count(*) FILTER (WHERE stage = 'churned') AS BIGINT) AS n_churned
    FROM stages GROUP BY week
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (r6 addition): every active (user, week)
    classified as new / retained / resurrected, plus churned users charged
    to the week after their last activity — the canonical
    growth-decomposition every portrait/analytics stack reports
    (active(w) = new + retained + resurrected; churned(w) = active(w-1)
    − retained(w), invariant-tested).

    One distinct (user, week) shuffle; the three window functions share the
    same user_id partitioning; the stage/churn union aggregates onto a
    tiny week grid. Weeks are absolute epoch-week integers (same
    calendar-agnostic policy as tag_retention), so the classification is
    pure integer arithmetic on both engines. The global max week is a
    1-row broadcast (churn cannot be assessed past the observed horizon).
    """
    e = load(spark, sf_dir).events
    w = e.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_US_PER_WEEK}").alias("week"),
    ).distinct()
    uw = Window.partitionBy("user_id")
    seq = w.select(
        "week",
        F.min("week").over(uw).alias("first_week"),
        F.lag("week").over(uw.orderBy("week")).alias("prev"),
        F.lead("week").over(uw.orderBy("week")).alias("nxt"),
    )
    # seq feeds three consumers (stages, churn, and the max-week scalar);
    # without pinning, the (user, week) distinct over raw events — the
    # dominant cost at 100 TB — would re-evaluate once per consumer
    # (observed: 6 scans / 5 exchanges). pin() materializes it once.
    seq = pin(seq)
    stage = F.when(F.col("week") == F.col("first_week"), "new").when(
        F.col("prev") == F.col("week") - 1, "retained"
    ).otherwise("resurrected")
    stages = seq.select("week", stage.alias("stage"))
    mx = seq.agg(F.max("week").alias("maxw"))
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .where(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("week") + 1))
            & (F.col("week") < F.col("maxw"))
        )
        .select((F.col("week") + 1).alias("week"), F.lit("churned").alias("stage"))
    )
    return (
        stages.unionByName(churn)
        .groupBy("week")
        .agg(
            F.count(F.when(F.col("stage") == "new", 1)).cast("bigint").alias("n_new"),
            F.count(F.when(F.col("stage") == "retained", 1)).cast("bigint").alias("n_retained"),
            F.count(F.when(F.col("stage") == "resurrected", 1)).cast("bigint").alias("n_resurrected"),
            F.count(F.when(F.col("stage") == "churned", 1)).cast("bigint").alias("n_churned"),
        )
    )


@op(
    "events_ltv_cohort",
    oracle=f"""
    WITH w AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_WEEK} AS week,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(38,4))
                  ELSE CAST(0 AS DECIMAL(38,4)) END AS rev
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id
    ), cell AS (
      SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
             CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active,
             sum(w.rev) AS rev
      FROM w JOIN cohort c ON c.user_id = w.user_id
      GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_active,
           CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(CAST(sum(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset)
                     AS VARCHAR) AS DOUBLE) AS cum_revenue
    FROM cell
    """,
)
def events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle (r6 addition): per (first-activity cohort week ×
    weeks-since) cell, active users, purchase revenue, and the cumulative
    revenue curve — the lifetime-value report that prices acquisition, and
    the monetary complement of tag_retention's user counts.

    Same epoch-week integers as tag_retention; revenue sums in
    DECIMAL(38,4) on both engines (order-independent, exact — SURVEY §2.0
    rule 1) and the cumulative window runs over the tiny (cohort × offset)
    grid, not the event stream. Cumulative sums of exact decimals cast to
    double are bitwise-identical across engines.

    Cohort assignment is a window MIN over user_id, not a groupBy +
    self-join: the r6 form consumed the events projection twice (two
    columnar scans — VERDICT r6 "What's wrong" #2) and shuffled it twice;
    this form is one scan, one user_id exchange feeding the window, then
    one aggregate onto the tiny grid."""
    e = load(spark, sf_dir).events
    w = e.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_US_PER_WEEK}").alias("week"),
        F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(38,4)"))
        .otherwise(F.lit(0).cast("decimal(38,4)"))
        .alias("rev"),
    )
    uw = Window.partitionBy("user_id")
    cell = (
        w.withColumn("cohort_week", F.min("week").over(uw))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_active"),
            F.sum("rev").alias("rev"),
        )
    )
    cum = Window.partitionBy("cohort_week").orderBy("week_offset")
    return cell.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(cum).cast("double").alias("cum_revenue"),
    )


@op(
    "events_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS t
      FROM events
    ), tagged AS (
      SELECT user_id, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_ch,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_ch
      FROM e
    ), conv AS (
      SELECT * FROM tagged WHERE event_type = 'purchase'
    ), unp AS (
      SELECT 'last_touch' AS model, last_ch AS channel, value FROM conv WHERE last_ch IS NOT NULL
      UNION ALL
      SELECT 'first_touch' AS model, first_ch AS channel, value FROM conv WHERE first_ch IS NOT NULL
    )
    SELECT model, channel, CAST(count(*) AS BIGINT) AS n_conv,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM unp GROUP BY model, channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream (r8 addition): every
    ``purchase`` conversion credits (a) the user's most recent preceding
    non-purchase touch (last-touch) and (b) the user's first-ever preceding
    non-purchase touch (first-touch); the report compares the two models
    per channel (= event_type) with conversion counts and decimal-exact
    credited value. The standard campaign-credit query of a user-portrait
    stack, and the window-frame complement of events_transition_matrix's
    adjacent-pair view.

    One (user, time) window pass computes both touches via frame-bounded
    first/last(ignorenulls) — ROWS UNBOUNDED PRECEDING .. 1 PRECEDING, so a
    conversion never credits itself; the unpivot to (model, channel) rows
    happens BEFORE the aggregate, so the final shuffle key is the tiny
    (2 × #event_types) report space. Scale: one shuffle on user_id (the
    window), one map-side-combinable groupBy — no joins, no driver state.
    """
    e = load(spark, sf_dir).events
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    tagged = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(frame).alias("last_ch"),
        F.first(touch, ignorenulls=True).over(frame).alias("first_ch"),
    )
    conv = tagged.where(F.col("event_type") == "purchase")
    unp = conv.where(F.col("last_ch").isNotNull()).select(
        F.lit("last_touch").alias("model"), F.col("last_ch").alias("channel"), "value"
    ).unionAll(
        conv.where(F.col("first_ch").isNotNull()).select(
            F.lit("first_touch").alias("model"), F.col("first_ch").alias("channel"), "value"
        )
    )
    return unp.groupBy("model", "channel").agg(
        F.count("*").cast("bigint").alias("n_conv"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("total_value"),
    )


@op(
    "tag_decay_score",
    oracle="""
    WITH a AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
    e AS (
      SELECT user_id, event_type,
             datediff('day', CAST(ts AS DATE), a.d) AS age,
             CAST(value AS DECIMAL(38,4)) AS v
      FROM events CROSS JOIN a
    ), per AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(coalesce(CAST(sum(v) FILTER (age < 7) AS DOUBLE), 0) AS DOUBLE) * 1.0
             + CAST(coalesce(CAST(sum(v) FILTER (age >= 7 AND age < 30) AS DOUBLE), 0) AS DOUBLE) * 0.6
             + CAST(coalesce(CAST(sum(v) FILTER (age >= 30 AND age < 90) AS DOUBLE), 0) AS DOUBLE) * 0.3
             + CAST(coalesce(CAST(sum(v) FILTER (age >= 90) AS DOUBLE), 0) AS DOUBLE) * 0.1 AS score
      FROM e GROUP BY user_id, event_type
    ), ranked AS (
      SELECT user_id, event_type, score, n_events,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY score DESC, event_type ASC) AS rn
      FROM per
    )
    SELECT user_id, CAST(rn AS INT) AS pref_rank, event_type, score, n_events
    FROM ranked WHERE rn <= 2
    """,
)
def tag_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed preference tag (r8 addition): each user's top-2
    event types by time-decayed engagement value — the user-portrait
    "preference weight" that production tag pipelines compute as
    sum(value·decay(age)). Decay is a 4-step half-life ladder (<7d: 1.0,
    <30d: 0.6, <90d: 0.3, else 0.1) anchored at the corpus max date —
    recent behavior dominates without the stale long tail vanishing.
    Complements tag_preference_top1 (pure count, no recency) and
    tag_activity_trend (count trend, no value).

    Determinism: per-bucket sums are DECIMAL(38,4)-exact; the score is a
    FIXED 4-term double expression over those exact sums (no float
    accumulation of engine-dependent order — the reason the decay is a
    step ladder and not exp(), whose last-ulp varies by libm). One shuffle
    on (user_id, event_type), map-side combinable; the anchor is a 1-row
    broadcast.
    """
    e = load(spark, sf_dir).events
    anchor = e.agg(F.max(F.to_date("ts")).alias("d"))
    age = F.datediff(F.col("d"), F.to_date("ts"))
    v = F.col("value").cast("decimal(38,4)")
    bsum = lambda cond: F.coalesce(F.sum(F.when(cond, v)).cast("double"), F.lit(0.0))
    per = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            (
                bsum(age < 7) * 1.0
                + bsum((age >= 7) & (age < 30)) * 0.6
                + bsum((age >= 30) & (age < 90)) * 0.3
                + bsum(age >= 90) * 0.1
            ).alias("score"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.col("score").desc(), F.col("event_type").asc())
    return (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            "user_id",
            F.col("rn").cast("int").alias("pref_rank"),
            "event_type",
            "score",
            "n_events",
        )
    )


@op(
    "events_ab_ttest",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN instr('0123456789abcdef',
                            substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(round(CAST(coalesce(
                 CAST(sum(CAST(value AS DECIMAL(38,4)))
                      FILTER (event_type = 'purchase') AS DOUBLE), 0) AS DOUBLE)
               * 100) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ), s AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
             CAST(sum(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM u GROUP BY arm
    ), p AS (
      SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'A' THEN s1 END) AS s1a,
        max(CASE WHEN arm = 'B' THEN s1 END) AS s1b,
        max(CASE WHEN arm = 'A' THEN s2 END) AS s2a,
        max(CASE WHEN arm = 'B' THEN s2 END) AS s2b
      FROM s
    )
    SELECT n_a, n_b,
           s1a / n_a / 100.0 AS mean_a,
           s1b / n_b / 100.0 AS mean_b,
           (s2a - s1a * s1a / n_a) / (n_a - 1) / 10000.0 AS var_a,
           (s2b - s1b * s1b / n_b) / (n_b - 1) / 10000.0 AS var_b,
           (s1a / n_a / 100.0 - s1b / n_b / 100.0)
             / sqrt((s2a - s1a * s1a / n_a) / (n_a - 1) / 10000.0 / n_a
                    + (s2b - s1b * s1b / n_b) / (n_b - 1) / 10000.0 / n_b) AS t_stat
    FROM p
    """,
)
def events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (r8 addition): users are hash-assigned to two
    arms (first hex nibble of md5(user_id) < 8 — the engine-independent
    bucket trick of doc_train_split, so assignment survives re-sharding and
    reproduces on any engine), the per-user metric is total purchase value,
    and the report is one row of per-arm n / mean / variance plus the Welch
    t statistic — the experimentation primitive a portrait stack runs over
    every launch flag.

    Determinism: the per-user metric is a DECIMAL(38,4)-exact sum quantized
    to integer cents; arm moments are integer/decimal sums (s1 bigint-as-
    decimal, s2 decimal(38,0) of exact cents²) so mean/var/t are FIXED
    double expressions over exact integers — no float accumulation, IEEE
    bit-identical cross-engine. Two shuffles (user groupBy, 2-key arm agg),
    both map-side combinable; nothing driver-side.
    """
    e = load(spark, sf_dir).events
    v = F.col("value").cast("decimal(38,4)")
    nib = F.instr(F.lit(HEX), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1
    u = (
        e.groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", v)).cast("double"),
                    F.lit(0.0),
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
        .select(F.when(nib < 8, "A").otherwise("B").alias("arm"), "cents")
    )
    s = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").cast("double").alias("s1"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).cast("double").alias("s2"),
    )
    p = s.groupBy().agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("s1"))).alias("s1a"),
        F.max(F.when(F.col("arm") == "B", F.col("s1"))).alias("s1b"),
        F.max(F.when(F.col("arm") == "A", F.col("s2"))).alias("s2a"),
        F.max(F.when(F.col("arm") == "B", F.col("s2"))).alias("s2b"),
    )
    mean_a = F.col("s1a") / F.col("n_a") / 100.0
    mean_b = F.col("s1b") / F.col("n_b") / 100.0
    var_a = (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("n_a")) / (F.col("n_a") - 1) / 10000.0
    var_b = (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("n_b")) / (F.col("n_b") - 1) / 10000.0
    return p.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        ((mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))).alias("t_stat"),
    )


# Count-min sketch geometry: CMS_D independent md5-keyed hash rows ×
# CMS_W buckets = a 256-cell integer sketch. Width trades accuracy
# (overestimate <= e·N/CMS_W with prob 1-exp(-CMS_D)) for a state size
# that is CONSTANT in the key cardinality — the point of the sketch.
CMS_D = 4
CMS_W = 64


@op(
    "agg_cms_topk",
    oracle=f"""
    WITH k AS (
      SELECT CAST(user_id AS VARCHAR) AS key, user_id FROM events
    ), hashed AS (
      SELECT s.seed, key, user_id,
             ((instr('{{HEX}}', substr(md5(s.seed || ':' || key), 1, 1)) - 1) * 16
              + instr('{{HEX}}', substr(md5(s.seed || ':' || key), 2, 1)) - 1) % {CMS_W} AS bucket
      FROM k CROSS JOIN (SELECT CAST(unnest(generate_series(0, {CMS_D - 1})) AS VARCHAR) AS seed) s
    ), cells AS (
      SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY seed, bucket
    ), truec AS (
      SELECT user_id, key, CAST(count(*) AS BIGINT) AS true_cnt
      FROM k GROUP BY user_id, key
    ), top AS (
      SELECT user_id, key, true_cnt,
             row_number() OVER (ORDER BY true_cnt DESC, user_id ASC) AS rn
      FROM truec
    ), est AS (
      SELECT t.user_id, t.true_cnt, min(c.cnt) AS cms_est
      FROM top t
      CROSS JOIN (SELECT CAST(unnest(generate_series(0, {CMS_D - 1})) AS VARCHAR) AS seed) s
      JOIN cells c ON c.seed = s.seed
        AND c.bucket = ((instr('{{HEX}}', substr(md5(s.seed || ':' || t.key), 1, 1)) - 1) * 16
                        + instr('{{HEX}}', substr(md5(s.seed || ':' || t.key), 2, 1)) - 1) % {CMS_W}
      WHERE t.rn <= 10
      GROUP BY t.user_id, t.true_cnt
    )
    SELECT user_id, true_cnt, cms_est, cms_est - true_cnt AS overcount
    FROM est
    """.replace("{HEX}", "0123456789abcdef"),
)
def agg_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (r8 addition): build a
    CMS_D×CMS_W count-min sketch over the event stream's user_id
    frequencies, then read the 10 true-heaviest keys back THROUGH the
    sketch (estimate = min over rows of the hashed cell) and report
    estimate vs truth — overcount >= 0 always, bounded by the collision
    mass e·N/W. The sketch is the mergeable, constant-memory heavy-hitter
    primitive (per-partition sketches sum cell-wise; the same 256-cell
    grid absorbs 60k or 60B events), and unlike agg_approx_distinct /
    agg_hll_partitioned_merge it is EXACT-oracled: hashes are the repo's
    engine-independent md5-nibble family (doc_train_split), not an opaque
    engine builtin, so DuckDB reproduces every cell bit-for-bit.

    Plan: one explode(seeds) scan -> 256-key map-side-combinable groupBy
    (the sketch); the readback joins a 10-row driver-free top-k frame
    against the 256-cell table — broadcast-sized by construction. The
    true top-10 needs its own exact groupBy, which at 100 TB is the same
    shuffle every heavy-hitter verification pays; the SKETCH side never
    grows."""
    e = load(spark, sf_dir).events.select(
        F.col("user_id"), F.col("user_id").cast("string").alias("key")
    )

    def bucket(seed_col, key_col):
        h = F.md5(F.concat(seed_col, F.lit(":"), key_col))
        return (
            (F.instr(F.lit(HEX), F.substring(h, 1, 1)) - 1) * 16
            + F.instr(F.lit(HEX), F.substring(h, 2, 1))
            - 1
        ) % CMS_W

    seeds = F.array(*[F.lit(str(i)) for i in range(CMS_D)])
    hashed = e.select(
        F.explode(seeds).alias("seed"), "key", "user_id"
    ).select("seed", bucket(F.col("seed"), F.col("key")).alias("bucket"))
    cells = hashed.groupBy("seed", "bucket").agg(F.count("*").cast("bigint").alias("cnt"))

    truec = e.groupBy("user_id", "key").agg(F.count("*").cast("bigint").alias("true_cnt"))
    # global top-10 via sort+limit -> TakeOrderedAndProject (per-partition
    # partial top-k, merged on the driver) — NOT a no-partition row_number
    # window, which would plan Exchange SinglePartition over the full key
    # table (the sort_multikey_nulls cliff the r7 audit closed)
    top = truec.orderBy(F.col("true_cnt").desc(), F.col("user_id").asc()).limit(10)
    probes = top.select(
        "user_id", "true_cnt", F.explode(seeds).alias("seed"), F.col("key")
    ).select("user_id", "true_cnt", "seed", bucket(F.col("seed"), F.col("key")).alias("bucket"))
    est = (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "user_id", "true_cnt", "cms_est", (F.col("cms_est") - F.col("true_cnt")).alias("overcount")
    )


@op(
    "fn_higher_order",
    oracle="""
    WITH g AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS INT))) AS arr
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(arr) AS INT) AS n_items,
           CAST(list_reduce(arr, (a, b) -> a + b) AS BIGINT) AS qty_sum,
           CAST(len(list_filter(arr, x -> x >= 30)) AS INT) AS n_big,
           len(list_filter(arr, x -> x >= 49)) > 0 AS has_49,
           len(list_filter(arr, x -> x <= 0)) = 0 AS all_pos,
           array_to_string(arr[1:3], '-') AS head3,
           CAST(list_sum(list_transform(generate_series(1, len(arr)),
                                        i -> arr[i] * i)) AS BIGINT) AS idx_weighted,
           CAST(CAST(list_reduce(arr, (a, b) -> a + b) AS BIGINT) AS DOUBLE)
             / len(arr) AS qty_avg
    FROM g
    """,
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function family (§2.G companion to fn_array):
    per-order sorted quantity arrays pushed through the lambda builtins —
    aggregate (fold-sum), filter+size, exists, forall, slice+concat_ws,
    zip_with against a generated index sequence (position-weighted sum) —
    every one a JVM-side Catalyst expression inside whole-stage codegen,
    the fast path the engine offers INSTEAD of a Python UDF for ragged
    array logic. DuckDB mirrors each lambda with its list_* twin, so the
    op is EXACT end to end (integer math throughout).

    One groupBy(orderkey) shuffle builds the arrays (sort_array makes
    collect order deterministic); everything after is embarrassingly
    parallel per-row expression work."""
    li = load(spark, sf_dir).lineitem.select(
        "l_orderkey", F.col("l_quantity").cast("int").alias("q")
    )
    g = li.groupBy("l_orderkey").agg(F.sort_array(F.collect_list("q")).alias("arr"))
    arr = F.col("arr")
    qty_sum = F.aggregate(arr, F.lit(0).cast("bigint"), lambda a, x: a + x)
    n = F.size(arr)
    return g.select(
        "l_orderkey",
        n.cast("int").alias("n_items"),
        qty_sum.alias("qty_sum"),
        F.size(F.filter(arr, lambda x: x >= 30)).cast("int").alias("n_big"),
        F.exists(arr, lambda x: x >= 49).alias("has_49"),
        F.forall(arr, lambda x: x > 0).alias("all_pos"),
        F.concat_ws("-", F.transform(F.slice(arr, 1, 3), lambda x: x.cast("string"))).alias(
            "head3"
        ),
        F.aggregate(
            F.zip_with(arr, F.sequence(F.lit(1), n), lambda x, i: (x * i).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("idx_weighted"),
        (qty_sum.cast("double") / n).alias("qty_avg"),
    )


@op(
    "events_rolling_distinct_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), grid AS (
      SELECT DISTINCT day FROM du
    ), contrib AS (
      SELECT g.day, d.user_id
      FROM du d JOIN grid g
        ON g.day >= d.day AND g.day < d.day + INTERVAL 7 DAY
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau_trailing_7d
    FROM contrib GROUP BY day
    """,
)
def events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (rolling WAU) — the
    engagement time series every portrait dashboard plots. COUNT DISTINCT
    does not compose over window frames (a user active on 3 of the 7 days
    must count once), so the scalable shape is contribution expansion:
    each distinct (user, active-day) row explodes to the ≤7 report days it
    contributes to, then one distinct-count per report day. Work is
    bounded at 7× the daily-active table — never a per-day self-join over
    the raw events (the quadratic-in-window naive form), and the
    (day, user) shuffle key is high-cardinality and even. At 100 TB the
    same plan runs off the daily-active rollup, or swaps the exact
    distinct for the mergeable HLL sketch (agg_hll_partitioned_merge) at
    fixed memory.

    The report-day grid is restricted to OBSERVED days (join against the
    distinct-day grid) so both engines emit identical day sets without a
    calendar generator."""
    e = load(spark, sf_dir).events
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("day_w"),
        "user_id",
    )
    grid = du.select("day").distinct()
    return (
        contrib.join(grid, contrib["day_w"] == grid["day"])
        .groupBy(contrib["day_w"].cast("timestamp").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau_trailing_7d"))
    )


@op("agg_hll_rolling_distinct", oracle=None)
def agg_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch form of ``events_rolling_distinct_users`` — the shape
    that op's docstring names as its 100 TB swap-in: one HLL sketch per
    (user-activity) day (constant memory, map-side combinable), then each
    report day UNIONS its trailing-7 daily sketches instead of
    re-counting distinct users over raw events. Sketch union replaces the
    7× row expansion with a 7× union of ~KB sketches — memory and shuffle
    become independent of user cardinality, the property that matters
    when days have 10⁸ actives. Output: (day, wau_est, n_days_merged).

    ROWS-only by design (engine-specific DataSketches estimates); the
    invariant test asserts the estimate lands within ±5% of the EXACT
    sibling on every day and that run-to-run output is identical."""
    e = load(spark, sf_dir).events
    daily = e.groupBy(F.to_date("ts").alias("aday")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    contrib = daily.select(
        F.explode(F.sequence(F.col("aday"), F.date_add(F.col("aday"), 6))).alias("day_w"),
        "sk",
        F.col("aday"),
    )
    grid = daily.select(F.col("aday").alias("gday")).distinct()
    return (
        contrib.join(grid, contrib["day_w"] == grid["gday"])
        .groupBy(contrib["day_w"].cast("timestamp").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("wau_est"),
            F.count("*").cast("bigint").alias("n_days_merged"),
        )
    )


@op(
    "doc_split_drift",
    oracle=f"""
    WITH b AS (
      SELECT (instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + instr('{HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket,
             text
      FROM documents
    ), sp AS (
      SELECT CASE WHEN bucket < 205 THEN 'train'
                  WHEN bucket < 230 THEN 'valid' ELSE 'test' END AS split, text
      FROM b
    ), tok AS (
      SELECT split, unnest(string_split(text, ' ')) AS token FROM sp
      WHERE split <> 'valid'
    ), cnt AS (
      SELECT split, token, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE token <> '' GROUP BY split, token
    ), tot AS (
      SELECT split, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY split
    ), wide AS (
      SELECT c.token,
             CAST(coalesce(max(CASE WHEN c.split = 'train' THEN c.n END), 0) AS BIGINT) AS n_train,
             CAST(coalesce(max(CASE WHEN c.split = 'test' THEN c.n END), 0) AS BIGINT) AS n_test
      FROM cnt c GROUP BY c.token
    )
    SELECT w.token, w.n_train, w.n_test,
           CAST(w.n_train AS DOUBLE) / tr.tot AS p_train,
           CAST(w.n_test AS DOUBLE) / te.tot AS p_test,
           CAST(w.n_train AS DOUBLE) / tr.tot - CAST(w.n_test AS DOUBLE) / te.tot AS delta
    FROM wide w
    CROSS JOIN (SELECT tot FROM tot WHERE split = 'train') tr
    CROSS JOIN (SELECT tot FROM tot WHERE split = 'test') te
    """,
)
def doc_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift audit between the deterministic train and
    test splits (doc_train_split's md5-bucket assignment, reproduced here
    so the audit runs WITHOUT materializing the split) — the check a
    training pipeline runs before trusting its heldout numbers: a token
    whose probability mass differs materially between splits signals a
    skewed split or temporally clustered data. Per token: counts, per-
    split probabilities, and the signed probability delta — ranked by the
    consumer, no transcendentals anywhere, so every column is exact
    IEEE-from-exact-integers and the op differentials bit-for-bit.

    One tokenize scan with the split label attached map-side, one
    (split, token) groupBy (map-side combinable), two scalar totals
    broadcast back. Vocabulary-sized output at any corpus scale."""
    d = load(spark, sf_dir).documents
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.instr(F.lit(HEX), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(HEX), F.substring(h, 2, 1)) - 1
    )
    split = (
        F.when(bucket < 205, "train").when(bucket < 230, "valid").otherwise("test")
    )
    tok = (
        d.select(split.alias("split"), F.explode(F.split("text", " ")).alias("token"))
        .where((F.col("split") != "valid") & (F.col("token") != ""))
    )
    cnt = tok.groupBy("split", "token").agg(F.count("*").cast("bigint").alias("n"))
    wide = cnt.groupBy("token").agg(
        F.coalesce(F.max(F.when(F.col("split") == "train", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_train"),
        F.coalesce(F.max(F.when(F.col("split") == "test", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_test"),
    )
    tots = cnt.groupBy().agg(
        F.sum(F.when(F.col("split") == "train", F.col("n"))).cast("bigint").alias("tot_train"),
        F.sum(F.when(F.col("split") == "test", F.col("n"))).cast("bigint").alias("tot_test"),
    )
    p_train = F.col("n_train").cast("double") / F.col("tot_train")
    p_test = F.col("n_test").cast("double") / F.col("tot_test")
    return wide.crossJoin(F.broadcast(tots)).select(
        "token",
        "n_train",
        "n_test",
        p_train.alias("p_train"),
        p_test.alias("p_test"),
        (p_train - p_test).alias("delta"),
    )


@op(
    "dq_profile_columns",
    oracle="""
    WITH o AS (
      SELECT *, CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END AS urgent_flag
      FROM orders
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(o_orderkey) AS BIGINT) AS nn1, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
             CAST(min(o_orderkey) AS DOUBLE) AS mn1, CAST(max(o_orderkey) AS DOUBLE) AS mx1,
             CAST(sum(CAST(o_orderkey AS DECIMAL(38,0))) AS DOUBLE) / count(o_orderkey) AS av1,
             CAST(count(o_custkey) AS BIGINT) AS nn2, CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
             CAST(min(o_custkey) AS DOUBLE) AS mn2, CAST(max(o_custkey) AS DOUBLE) AS mx2,
             CAST(sum(CAST(o_custkey AS DECIMAL(38,0))) AS DOUBLE) / count(o_custkey) AS av2,
             CAST(count(o_totalprice) AS BIGINT) AS nn3, CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd3,
             CAST(min(o_totalprice) AS DOUBLE) AS mn3, CAST(max(o_totalprice) AS DOUBLE) AS mx3,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / count(o_totalprice) AS av3,
             CAST(count(o_orderdate) AS BIGINT) AS nn4, CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd4,
             CAST(min(CAST(epoch(o_orderdate) AS BIGINT)) AS DOUBLE) AS mn4,
             CAST(max(CAST(epoch(o_orderdate) AS BIGINT)) AS DOUBLE) AS mx4,
             CAST(sum(CAST(CAST(epoch(o_orderdate) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
               / count(o_orderdate) AS av4,
             CAST(count(o_orderstatus) AS BIGINT) AS nn5, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd5,
             min(o_orderstatus) AS mns5, max(o_orderstatus) AS mxs5,
             CAST(count(o_orderpriority) AS BIGINT) AS nn6, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd6,
             min(o_orderpriority) AS mns6, max(o_orderpriority) AS mxs6,
             CAST(count(urgent_flag) AS BIGINT) AS nn7, CAST(count(DISTINCT urgent_flag) AS BIGINT) AS nd7,
             min(urgent_flag) AS mns7, max(urgent_flag) AS mxs7
      FROM o
    )
    SELECT 'o_orderkey' AS col, n_rows, n_rows - nn1 AS n_nulls, nd1 AS n_distinct,
           mn1 AS min_num, mx1 AS max_num, av1 AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM s
    UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2, av2, NULL, NULL FROM s
    UNION ALL SELECT 'o_totalprice', n_rows, n_rows - nn3, nd3, mn3, mx3, av3, NULL, NULL FROM s
    UNION ALL SELECT 'o_orderdate_epoch_s', n_rows, n_rows - nn4, nd4, mn4, mx4, av4, NULL, NULL FROM s
    UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn5, nd5, NULL, NULL, NULL, mns5, mxs5 FROM s
    UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn6, nd6, NULL, NULL, NULL, mns6, mxs6 FROM s
    UNION ALL SELECT 'urgent_flag', n_rows, n_rows - nn7, nd7, NULL, NULL, NULL, mns7, mxs7 FROM s
    """,
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler (the Deequ/Great-Expectations primitive a
    pipeline runs before trusting a new drop): one row per column with row
    count, null count, exact distinct count, min/max, and mean — numerics
    (incl. timestamp as epoch seconds) in double columns, strings
    lexicographic, plus a derived nullable flag column so null accounting
    is exercised. Means are decimal-exact sums divided once (fixed-order
    IEEE on both engines, the agg_stats policy); every cell is exact.

    Scale shape: ONE aggregate over the table — Spark rewrites the
    multi-column COUNT(DISTINCT) via Expand (7× row fan-out, map-side
    combined down to each column's value universe before the shuffle), so
    cost is one scan + per-column-cardinality shuffle, not 7 scans. The
    final 1-row frame unpivots to 7 rows driver-free via explode(array(
    struct)). At 100 TB swap exact distinct for approx_count_distinct /
    HLL (agg_hll_partitioned_merge is the mergeable form) — documented,
    not silently approximated here."""
    o = load(spark, sf_dir).orders.withColumn(
        "urgent_flag",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_orderpriority")),
    ).withColumn("o_epoch", F.unix_seconds("o_orderdate"))

    def num_stats(c, dec):
        return [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
            (F.sum(F.col(c).cast(dec)).cast("double") / F.count(c)).alias(f"av_{c}"),
        ]

    def str_stats(c):
        return [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).alias(f"mns_{c}"),
            F.max(c).alias(f"mxs_{c}"),
        ]

    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *num_stats("o_orderkey", "decimal(38,0)"),
        *num_stats("o_custkey", "decimal(38,0)"),
        *num_stats("o_totalprice", "decimal(38,4)"),
        *num_stats("o_epoch", "decimal(38,0)"),
        *str_stats("o_orderstatus"),
        *str_stats("o_orderpriority"),
        *str_stats("urgent_flag"),
    )
    snull = F.lit(None).cast("string")
    dnull = F.lit(None).cast("double")

    def num_row(name, c):
        return F.struct(
            F.lit(name).alias("col"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_num"),
            F.col(f"mx_{c}").alias("max_num"),
            F.col(f"av_{c}").alias("avg_num"),
            snull.alias("min_str"),
            snull.alias("max_str"),
        )

    def str_row(name, c):
        return F.struct(
            F.lit(name).alias("col"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            dnull.alias("min_num"),
            dnull.alias("max_num"),
            dnull.alias("avg_num"),
            F.col(f"mns_{c}").alias("min_str"),
            F.col(f"mxs_{c}").alias("max_str"),
        )

    return a.select(
        "n_rows",
        F.explode(
            F.array(
                num_row("o_orderkey", "o_orderkey"),
                num_row("o_custkey", "o_custkey"),
                num_row("o_totalprice", "o_totalprice"),
                num_row("o_orderdate_epoch_s", "o_epoch"),
                str_row("o_orderstatus", "o_orderstatus"),
                str_row("o_orderpriority", "o_orderpriority"),
                str_row("urgent_flag", "urgent_flag"),
            )
        ).alias("s"),
    ).select("s.col", "n_rows", "s.n_nulls", "s.n_distinct", "s.min_num", "s.max_num", "s.avg_num", "s.min_str", "s.max_str")


# Holt double-exponential smoothing coefficients — exact binary fractions
# (0.5 = 2^-1, 0.25 = 2^-2) so every smoothing step is correctly-rounded
# IEEE arithmetic that reproduces bit-identically on any engine.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_HORIZON = 7


@op(
    "events_forecast_holt",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
    ), days AS (
      SELECT d0 + CAST(i AS INTEGER) AS day
      FROM g, (SELECT unnest(generate_series(0, 3650)) AS i)
      WHERE d0 + CAST(i AS INTEGER) <= d1
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), cnt AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT t.event_type, d.day,
             CAST(row_number() OVER (PARTITION BY t.event_type ORDER BY d.day) AS BIGINT) AS idx,
             CAST(coalesce(c.c, 0) AS DOUBLE) AS y
      FROM types t CROSS JOIN days d
      LEFT JOIN cnt c ON c.event_type = t.event_type AND c.day = d.day
    ), holt AS (
      SELECT event_type, idx, y AS level, CAST(0 AS DOUBLE) AS trend
      FROM series WHERE idx = 1
      UNION ALL
      SELECT s.event_type, s.idx,
             CAST(0.5 AS DOUBLE) * s.y + CAST(0.5 AS DOUBLE) * (h.level + h.trend),
             CAST(0.25 AS DOUBLE)
               * ((CAST(0.5 AS DOUBLE) * s.y + CAST(0.5 AS DOUBLE) * (h.level + h.trend)) - h.level)
               + CAST(0.75 AS DOUBLE) * h.trend
      FROM holt h JOIN series s ON s.event_type = h.event_type AND s.idx = h.idx + 1
    ), last AS (
      SELECT h.event_type, h.level, h.trend
      FROM holt h JOIN (SELECT event_type, max(idx) AS mi FROM series GROUP BY event_type) m
        ON h.event_type = m.event_type AND h.idx = m.mi
    )
    SELECT event_type, CAST(hz.h AS INTEGER) AS h, level, trend,
           level + CAST(hz.h AS DOUBLE) * trend AS forecast
    FROM last, (SELECT unnest(generate_series(1, 7)) AS h) hz
    """,
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast of the
    daily event-count series per event type, horizons 1..7 days — the
    capacity-planning / ingest-forecast primitive a portrait pipeline runs
    on its own volume telemetry. Missing days are zero-filled on the
    observed global [min, max] day grid so the recurrence sees a dense
    series; level_1 = y_1, trend_1 = 0, then the classic recurrence
    level_i = a*y_i + (1-a)(level+trend), trend_i = b*(level_i - level) +
    (1-b)*trend with a = 0.5, b = 0.25.

    Determinism (the reason this op can be EXACT-oracled at all): the
    coefficients are exact binary fractions, the inputs are integers, and
    the recurrence is evaluated in day order by construction — Spark folds
    a day-sorted array with ``F.aggregate`` (one fixed-order pass per
    type), DuckDB walks the same series with a recursive CTE. Every step
    is the same correctly-rounded IEEE expression tree, so 30 chained
    steps stay bit-identical cross-engine.

    Scale shape: the per-(type, day) count is the only full-scan work —
    map-side combinable onto a #types × #days grid; everything after runs
    on that tiny grid (collect_list per type is bounded by the calendar,
    not the data; the global day range is a 1-row scalar aggregate). At
    100 TB the series table is a rollup the warehouse already maintains,
    and the fold cost is O(#series × #days) regardless of event volume."""
    e = load(spark, sf_dir).events.select(
        F.col("event_type"), F.to_date("ts").alias("day")
    )
    g = e.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = g.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = e.select("event_type").distinct()
    cnt = e.groupBy("event_type", "day").agg(F.count("*").cast("bigint").alias("c"))
    series = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("c", F.lit(0)).cast("double").alias("y")
        )
    )
    per_type = series.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    ys = F.transform(F.col("arr"), lambda s: s["y"])

    def step(acc, y):
        a, b = F.lit(HOLT_ALPHA), F.lit(HOLT_BETA)
        nl = a * y + (F.lit(1.0) - a) * (acc["level"] + acc["trend"])
        nt = b * (nl - acc["level"]) + (F.lit(1.0) - b) * acc["trend"]
        return F.struct(nl.alias("level"), nt.alias("trend"))

    init = F.struct(
        F.element_at(ys, 1).alias("level"), F.lit(0.0).alias("trend")
    )
    fitted = per_type.select(
        "event_type",
        F.aggregate(
            F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0))), init, step
        ).alias("st"),
    ).select("event_type", F.col("st.level").alias("level"), F.col("st.trend").alias("trend"))
    return fitted.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(HOLT_HORIZON))).alias("h0"),
        "level",
        "trend",
    ).select(
        "event_type",
        F.col("h0").cast("int").alias("h"),
        "level",
        "trend",
    ).select(
        "event_type",
        "h",
        "level",
        "trend",
        (F.col("level") + F.col("h").cast("double") * F.col("trend")).alias("forecast"),
    )


RESAMPLE_TOPN = 100


@op(
    "doc_importance_resample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tk AS (
      SELECT doc_id, lang, tok FROM toks WHERE tok <> ''
    ), dt AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY doc_id, tok
    ), cr AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c_r FROM tk GROUP BY tok
    ), ct AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c_t FROM tk WHERE lang = 'en' GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(count(*) AS BIGINT) AS v FROM cr
    ), tot_t AS (
      SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) AS n_t FROM ct
    ), terms AS (
      SELECT dt.doc_id, dt.tok, dt.n,
             CAST(dt.n AS DOUBLE)
               * (CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / CAST(cr.c_r + 1 AS DOUBLE)) AS term
      FROM dt JOIN cr USING (tok) LEFT JOIN ct USING (tok)
    ), folded AS (
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             list_reduce(list(CAST(term AS DOUBLE) ORDER BY tok), (a, b) -> a + b) AS raw_sum
      FROM terms GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, f.n_tokens,
           (CAST(t.n_r + t.v AS DOUBLE) / CAST(tt.n_t + t.v AS DOUBLE)) * f.raw_sum AS score
    FROM folded f
    JOIN documents d USING (doc_id)
    CROSS JOIN tot t CROSS JOIN tot_t tt
    ORDER BY score DESC, doc_id
    LIMIT {RESAMPLE_TOPN}
    """,
)
def doc_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling", public
    arXiv 2302.03169): score every raw document by how well its unigram
    distribution matches a TARGET slice (here lang='en'), then keep the
    top-N — the data-selection step that reweights a 100 TB crawl toward
    a curated target domain. The weight is the add-1-smoothed ratio form
    w(doc) = [(N_r+V)/(N_t+V)] * Σ_tok n_tok * (c_t(tok)+1)/(c_r(tok)+1)
    — a monotone, log-free surrogate of the DSIR likelihood ratio that
    keeps every arithmetic step correctly-rounded IEEE from exact
    integers (the repo-wide no-transcendentals policy for EXACT ops;
    per-term division and one final scale are the only roundings, and the
    per-doc sum is evaluated in sorted-token order on BOTH engines: a
    fixed-order ``F.aggregate`` fold here, ``list_reduce`` over a
    ``list(... ORDER BY tok)`` in DuckDB).

    Scale shape: two map-side-combinable token groupBys ((doc, tok) and
    (tok), the same shuffles text_tfidf already pays), a broadcast-sized
    join of per-token target/raw counts back onto doc-token rows (AQE
    picks broadcast when the vocab is small; plain shuffle join when it
    is not), 1-row corpus totals crossed in, and a global top-N that
    plans as TakeOrderedAndProject — no window, no collect. Selection at
    real scale would hash-threshold on the score instead of top-N; the
    ranking kernel is identical."""
    d = load(spark, sf_dir).documents
    tk = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    dt = tk.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("n"))
    cr = tk.groupBy("tok").agg(F.count("*").cast("bigint").alias("c_r"))
    ct = (
        tk.where(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c_t"))
    )
    tot = cr.agg(
        F.sum("c_r").cast("bigint").alias("n_r"), F.count("*").cast("bigint").alias("v")
    )
    tot_t = ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t"))
    terms = (
        dt.join(cr, "tok")
        .join(ct, "tok", "left")
        .select(
            "doc_id",
            "tok",
            "n",
            (
                F.col("n").cast("double")
                * (
                    (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                    / (F.col("c_r") + 1).cast("double")
                )
            ).alias("term"),
        )
    )
    folded = terms.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tok", "term"))), lambda s: s["term"]
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("raw_sum"),
    )
    k = (F.col("n_r") + F.col("v")).cast("double") / (F.col("n_t") + F.col("v")).cast("double")
    return (
        folded.join(d.select("doc_id", "lang"), "doc_id")
        .crossJoin(tot)
        .crossJoin(tot_t)
        .select("doc_id", "lang", "n_tokens", (k * F.col("raw_sum")).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RESAMPLE_TOPN)
    )


@op(
    "events_cuped_adjust",
    oracle="""
    WITH a AS (
      SELECT min(CAST(ts AS DATE)) AS d0 FROM events
    ), u AS (
      SELECT user_id,
             CASE WHEN instr('0123456789abcdef',
                            substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(round(CAST(coalesce(
                 CAST(sum(CAST(value AS DECIMAL(38,4)))
                      FILTER (event_type = 'purchase'
                              AND CAST(ts AS DATE) < d0 + 15) AS DOUBLE), 0) AS DOUBLE)
               * 100) AS BIGINT) AS x,
             CAST(round(CAST(coalesce(
                 CAST(sum(CAST(value AS DECIMAL(38,4)))
                      FILTER (event_type = 'purchase'
                              AND CAST(ts AS DATE) >= d0 + 15) AS DOUBLE), 0) AS DOUBLE)
               * 100) AS BIGINT) AS y
      FROM events CROSS JOIN a GROUP BY user_id, d0
    ), s AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM u GROUP BY arm
    ), p AS (
      SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'A' THEN sx END) AS sxa,
        max(CASE WHEN arm = 'B' THEN sx END) AS sxb,
        max(CASE WHEN arm = 'A' THEN sy END) AS sya,
        max(CASE WHEN arm = 'B' THEN sy END) AS syb,
        CAST(max(CASE WHEN arm = 'A' THEN n END)
             + max(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n,
        max(CASE WHEN arm = 'A' THEN sx END) + max(CASE WHEN arm = 'B' THEN sx END) AS sx,
        max(CASE WHEN arm = 'A' THEN sy END) + max(CASE WHEN arm = 'B' THEN sy END) AS sy,
        max(CASE WHEN arm = 'A' THEN sxy END) + max(CASE WHEN arm = 'B' THEN sxy END) AS sxy,
        max(CASE WHEN arm = 'A' THEN sxx END) + max(CASE WHEN arm = 'B' THEN sxx END) AS sxx,
        max(CASE WHEN arm = 'A' THEN syy END) + max(CASE WHEN arm = 'B' THEN syy END) AS syy
      FROM s
    ), t AS (
      SELECT p.*,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
      FROM p
    )
    SELECT n_a, n_b, theta,
           sx / n / 100.0 AS mean_x,
           sya / n_a / 100.0 AS mean_y_a,
           syb / n_b / 100.0 AS mean_y_b,
           sya / n_a / 100.0 - theta * (sxa / n_a / 100.0 - sx / n / 100.0) AS adj_mean_a,
           syb / n_b / 100.0 - theta * (sxb / n_b / 100.0 - sx / n / 100.0) AS adj_mean_b,
           (sya / n_a / 100.0 - theta * (sxa / n_a / 100.0 - sx / n / 100.0))
             - (syb / n_b / 100.0 - theta * (sxb / n_b / 100.0 - sx / n / 100.0)) AS lift_adj,
           (syy - sy * sy / n) / (n - 1) / 10000.0 AS var_y,
           ((syy - CAST(2 AS DOUBLE) * theta * sxy + theta * theta * sxx)
              - (sy - theta * sx) * (sy - theta * sx) / n) / (n - 1) / 10000.0 AS var_y_adj
    FROM t
    """,
)
def events_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments by
    Utilizing Pre-Experiment Data", public WSDM paper) — the standard
    companion to events_ab_ttest: the observation window splits at
    first-day + 15 into a PRE period (covariate X = per-user purchase
    cents) and an EXPERIMENT period (metric Y), theta = cov(X,Y)/var(X)
    is fitted pooled across arms, and each arm's mean is adjusted by
    theta * (mean_x_arm - mean_x_pooled). Output is one row: per-arm
    raw and adjusted means, the adjusted lift, and the pooled realized
    variance before/after adjustment (var_y_adj from the same moment
    set: Σ(y-θx)² = Σy² - 2θΣxy + θ²Σx²).

    Determinism is the ab_ttest policy verbatim: per-user metrics are
    DECIMAL-exact sums quantized to integer cents, all moments (Σx, Σy,
    Σxy, Σx², Σy²) are DECIMAL(38,0) sums of exact integer products, and
    theta / means / variances are FIXED double expression trees over
    those exact moments — no float accumulation, bit-identical
    cross-engine. Scale shape: one events scan (the 1-row split-date
    anchor is crossed in, never collected), one map-side-combinable
    user groupBy, then a 2-row arm aggregate pivoted to one row. At any
    corpus size the post-rollup work is constant."""
    e = load(spark, sf_dir).events
    anchor = e.agg(F.min(F.to_date("ts")).alias("d0"))
    v = F.col("value").cast("decimal(38,4)")
    day = F.to_date("ts")
    split = F.date_add(F.col("d0"), 15)
    nib = F.instr(F.lit(HEX), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1

    def cents(cond):
        return (
            F.round(
                F.coalesce(
                    F.sum(F.when(cond, v)).cast("double"),
                    F.lit(0.0),
                )
                * 100
            )
            .cast("bigint")
        )

    u = (
        e.crossJoin(anchor)
        .groupBy("user_id", "d0")
        .agg(
            cents((F.col("event_type") == "purchase") & (day < split)).alias("x"),
            cents((F.col("event_type") == "purchase") & (day >= split)).alias("y"),
        )
        .select(F.when(nib < 8, "A").otherwise("B").alias("arm"), "x", "y")
    )
    s = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum("y").cast("decimal(38,0)").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("double").alias("syy"),
    )

    def arm(col, w):
        return F.max(F.when(F.col("arm") == w, F.col(col)))

    p = s.groupBy().agg(
        arm("n", "A").alias("n_a"),
        arm("n", "B").alias("n_b"),
        arm("sx", "A").alias("sxa"),
        arm("sx", "B").alias("sxb"),
        arm("sy", "A").alias("sya"),
        arm("sy", "B").alias("syb"),
        (arm("n", "A") + arm("n", "B")).cast("bigint").alias("n"),
        (arm("sx", "A") + arm("sx", "B")).alias("sx"),
        (arm("sy", "A") + arm("sy", "B")).alias("sy"),
        (arm("sxy", "A") + arm("sxy", "B")).alias("sxy"),
        (arm("sxx", "A") + arm("sxx", "B")).alias("sxx"),
        (arm("syy", "A") + arm("syy", "B")).alias("syy"),
    )
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    n, n_a, n_b = F.col("n"), F.col("n_a"), F.col("n_b")
    theta_e = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    t = p.withColumn("theta", theta_e)
    theta = F.col("theta")
    mean_x = sx / n / 100.0
    adj_a = F.col("sya") / n_a / 100.0 - theta * (F.col("sxa") / n_a / 100.0 - mean_x)
    adj_b = F.col("syb") / n_b / 100.0 - theta * (F.col("sxb") / n_b / 100.0 - mean_x)
    return t.select(
        "n_a",
        "n_b",
        "theta",
        mean_x.alias("mean_x"),
        (F.col("sya") / n_a / 100.0).alias("mean_y_a"),
        (F.col("syb") / n_b / 100.0).alias("mean_y_b"),
        adj_a.alias("adj_mean_a"),
        adj_b.alias("adj_mean_b"),
        (adj_a - adj_b).alias("lift_adj"),
        ((syy - sy * sy / n) / (n - 1) / 10000.0).alias("var_y"),
        (
            (
                (syy - F.lit(2.0) * theta * sxy + theta * theta * sxx)
                - (sy - theta * sx) * (sy - theta * sx) / n
            )
            / (n - 1)
            / 10000.0
        ).alias("var_y_adj"),
    )


@op(
    "events_seasonal_decompose",
    oracle="""
    WITH daily0 AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             count(*) AS cnt
      FROM events GROUP BY 1
    ), spine AS (
      SELECT CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily0
    ), daily AS (
      SELECT s.day, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
      FROM spine s LEFT JOIN daily0 d USING (day)
    ), tr AS (
      SELECT day, cnt,
             CAST(dayofweek(day) + 1 AS INT) AS dow, -- DuckDB dow is 0=Sun; Spark's is 1=Sun
             CAST(sum(cnt) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS sum7,
             count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
      FROM daily
    ), full7 AS (
      SELECT day, dow, cnt, sum7, 7 * cnt - sum7 AS det7 FROM tr WHERE w = 7
    ), seas AS (
      SELECT dow, CAST(sum(det7) AS BIGINT) AS s_num, count(*) AS n_weeks
      FROM full7 GROUP BY dow
    )
    SELECT CAST(f.day AS VARCHAR) AS day, f.dow, CAST(f.cnt AS BIGINT) AS cnt,
           round(f.sum7 / 7.0, 4) AS trend,
           round(s.s_num / (7.0 * s.n_weeks), 4) AS seasonal,
           round(f.cnt - f.sum7 / 7.0 - s.s_num / (7.0 * s.n_weeks), 4) AS residual
    FROM full7 f JOIN seas s USING (dow)
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event volume —
    trend (centered 7-day moving average), day-of-week seasonality (mean
    detrended deviation per dow), residual (what anomaly detection should
    actually alarm on; events_anomaly_zscore without this step alarms on
    every weekend). The decomposition a traffic dashboard runs before
    calling anything an incident.

    Numeric discipline: every aggregate stays INTEGER until the final
    division — the detrended series is kept as ``7·cnt − sum7`` (exact
    bigint; edge days without a full 7-day window are excluded rather
    than averaged over a varying width, which would make the denominator
    data-dependent), and the dow seasonal numerator is an exact integer
    sum over weeks — so the only doubles are final single divisions,
    bit-identical cross-engine (the agg_kmv integer-estimator
    discipline). Scale: daily rollup is one map-side-combinable shuffle;
    everything after runs on #days rows.

    The day spine is DENSIFIED before the moving average (ADVICE r10): a
    calendar day with zero events would otherwise have no row, so the
    "full 7-row" frame could span >7 calendar days and misalign the dow
    seasonality on sparse data. ``sequence(min_day, max_day)`` explodes
    off a single-row aggregate (calendar-bounded, #days rows) and a left
    join restores observed counts with 0 for the gaps."""
    e = load(spark, sf_dir).events
    daily0 = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    spine = (
        daily0.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    daily = spine.join(daily0, "day", "left").select(
        "day", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        F.dayofweek("day").cast("int").alias("dow"),
        "cnt",
        F.sum("cnt").over(w7).cast("bigint").alias("sum7"),
        F.count("*").over(w7).alias("w"),
    ).where(F.col("w") == 7)
    full7 = tr.withColumn("det7", F.lit(7) * F.col("cnt") - F.col("sum7"))
    seas = full7.groupBy("dow").agg(
        F.sum("det7").cast("bigint").alias("s_num"), F.count("*").alias("n_weeks")
    )
    return full7.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("string").alias("day"),
        "dow",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("sum7") / 7.0, 4).alias("trend"),
        F.round(F.col("s_num") / (7.0 * F.col("n_weeks")), 4).alias("seasonal"),
        F.round(
            F.col("cnt") - F.col("sum7") / 7.0 - F.col("s_num") / (7.0 * F.col("n_weeks")), 4
        ).alias("residual"),
    )


@op(
    "events_diff_in_diff",
    oracle="""
    WITH mid AS (
      SELECT CAST(to_timestamp((epoch(min(CAST(ts AS TIMESTAMP)))
                              + epoch(max(CAST(ts AS TIMESTAMP)))) // 2) AS TIMESTAMP) AS m
      FROM events
    ), u AS (
      SELECT user_id,
             CASE WHEN instr('0123456789abcdef',
                            substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN CAST(ts AS TIMESTAMP) <= mid.m THEN 'pre' ELSE 'post' END AS period,
             CAST(round(CAST(coalesce(
                 CAST(sum(CAST(value AS DECIMAL(38,4)))
                      FILTER (event_type = 'purchase') AS DOUBLE), 0) AS DOUBLE)
               * 100) AS BIGINT) AS cents
      FROM events, mid GROUP BY user_id, arm, period
    ), cell AS (
      SELECT arm, period, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS s1
      FROM u GROUP BY arm, period
    ), p AS (
      SELECT
        max(CASE WHEN arm = 'A' AND period = 'pre'  THEN n END) AS n_a_pre,
        max(CASE WHEN arm = 'A' AND period = 'post' THEN n END) AS n_a_post,
        max(CASE WHEN arm = 'B' AND period = 'pre'  THEN n END) AS n_b_pre,
        max(CASE WHEN arm = 'B' AND period = 'post' THEN n END) AS n_b_post,
        max(CASE WHEN arm = 'A' AND period = 'pre'  THEN s1 END) AS s_a_pre,
        max(CASE WHEN arm = 'A' AND period = 'post' THEN s1 END) AS s_a_post,
        max(CASE WHEN arm = 'B' AND period = 'pre'  THEN s1 END) AS s_b_pre,
        max(CASE WHEN arm = 'B' AND period = 'post' THEN s1 END) AS s_b_post
      FROM cell
    )
    SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
           s_a_pre / n_a_pre / 100.0 AS mean_a_pre,
           s_a_post / n_a_post / 100.0 AS mean_a_post,
           s_b_pre / n_b_pre / 100.0 AS mean_b_pre,
           s_b_post / n_b_post / 100.0 AS mean_b_post,
           (s_b_post / n_b_post / 100.0 - s_b_pre / n_b_pre / 100.0)
         - (s_a_post / n_a_post / 100.0 - s_a_pre / n_a_pre / 100.0) AS did
    FROM p
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the observational-measurement
    sibling of the experiment family (events_ab_ttest / events_cuped_adjust
    / events_power_analysis): arms by the md5-nibble hash assignment, the
    epoch midpoint splits pre/post (the dq_feature_psi convention), the
    per-(user, period) metric is integer-cents purchase value, and the DiD
    estimate is (B_post − B_pre) − (A_post − A_pre) over cell means — the
    parallel-trends estimator a team reaches for when a launch was NOT
    randomized and pre-period level differences must difference out.

    Determinism: exact decimal-cents sums per cell → mean/did are fixed
    double expressions over exact integers (the ab_ttest discipline). Two
    shuffles (user×period groupBy, 4-key cell agg), then a 1-row pivot —
    the 4-cell frame is the events_ab_ttest arm-pivot allowance widened
    by the period axis. A user active in only one period contributes only
    that period's cell, matching the repeated-cross-section DiD form (not
    a balanced panel — the docstring names this because the two give
    different estimates on churn-heavy data)."""
    e = load(spark, sf_dir).events
    mid = e.agg(
        F.timestamp_seconds(
            ((F.unix_timestamp(F.min("ts")) + F.unix_timestamp(F.max("ts"))) / 2).cast("bigint")
        ).alias("m")
    )
    v = F.col("value").cast("decimal(38,4)")
    nib = F.instr(F.lit(HEX), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1
    u = (
        e.crossJoin(F.broadcast(mid))
        .withColumn("period", F.when(F.col("ts") <= F.col("m"), "pre").otherwise("post"))
        .groupBy("user_id", "period")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", v)).cast("double"),
                    F.lit(0.0),
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
        .select(F.when(nib < 8, "A").otherwise("B").alias("arm"), "period", "cents")
    )
    cell = u.groupBy("arm", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").cast("double").alias("s1"),
    )
    def pick(a, per, col):
        return F.max(F.when((F.col("arm") == a) & (F.col("period") == per), F.col(col)))
    p = cell.groupBy().agg(
        pick("A", "pre", "n").alias("n_a_pre"),
        pick("A", "post", "n").alias("n_a_post"),
        pick("B", "pre", "n").alias("n_b_pre"),
        pick("B", "post", "n").alias("n_b_post"),
        pick("A", "pre", "s1").alias("s_a_pre"),
        pick("A", "post", "s1").alias("s_a_post"),
        pick("B", "pre", "s1").alias("s_b_pre"),
        pick("B", "post", "s1").alias("s_b_post"),
    )
    mean = lambda s, n: F.col(s) / F.col(n) / F.lit(100.0)
    return p.select(
        "n_a_pre",
        "n_a_post",
        "n_b_pre",
        "n_b_post",
        mean("s_a_pre", "n_a_pre").alias("mean_a_pre"),
        mean("s_a_post", "n_a_post").alias("mean_a_post"),
        mean("s_b_pre", "n_b_pre").alias("mean_b_pre"),
        mean("s_b_post", "n_b_post").alias("mean_b_post"),
        (
            (mean("s_b_post", "n_b_post") - mean("s_b_pre", "n_b_pre"))
            - (mean("s_a_post", "n_a_post") - mean("s_a_pre", "n_a_pre"))
        ).alias("did"),
    )


@op("events_markov_attribution", oracle=None)
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-CHAIN attribution with removal effects — the data-driven
    complement of events_attribution's positional models (public method:
    first-order Markov graphs with removal effects, Anderl et al. 2014;
    the standard upgrade every attribution stack eventually ships).
    Journey = each user's events strictly before their FIRST purchase
    (channel = event_type), absorbed in CONV if the user ever purchases,
    else NULL. A first-order chain is estimated from observed
    transitions (START → c1 → … → cn → CONV/NULL); channel c's removal
    effect = the relative drop in START→CONV absorption probability when
    every transition INTO c is redirected to NULL; attribution weight =
    effect / Σ effects; attributed_conversions = weight × observed
    conversions.

    Distributed shape: journeys and transitions are two window passes
    over (user, ts) — one shuffle on user_id, the events_attribution
    discipline — then a groupBy onto the (src, dst) TRANSITION MATRIX,
    whose cardinality is (#channels + 2)² (state space, never data
    volume). Only that matrix crosses to the driver, where the absorbing-
    chain solve (numpy float64, (I − Q)a = r — one k×k solve per channel,
    k ≈ #channels) is model math on metadata, exactly like a PQ codebook
    fit. At 100 TB the event volume only ever changes the matrix COUNTS.

    Oracle = ROWS (SURVEY §2.0 rule 5: the linear solve is not SQL);
    invariants pinned by tests/test_invariants.py::
    test_markov_attribution_matches_bruteforce — run-stability, weights
    sum to 1, effects in [0, 1], bit-agreement of the transition counts
    with a brute-force Python path walk, absorption probabilities
    re-derived by fixed-point iteration to 1e-12, and an analytic
    two-path hand fixture."""
    import numpy as np

    e = load(spark, sf_dir).events
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    tagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.coalesce(F.sum(is_p).over(w_prev), F.lit(0)).alias("n_prev_purch"),
        F.max(is_p).over(Window.partitionBy("user_id")).alias("converted"),
    )
    journey = tagged.where(
        (F.col("event_type") != "purchase") & (F.col("n_prev_purch") == 0)
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_rev = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    seq = journey.select(
        "user_id",
        "event_type",
        "converted",
        F.lag("event_type").over(w_seq).alias("prev_type"),
        F.row_number().over(w_rev).alias("rn_last"),
    )
    absorb = F.when(F.col("converted") == 1, "CONV").otherwise("NULL")
    steps = seq.select(
        F.coalesce("prev_type", F.lit("START")).alias("src"),
        F.col("event_type").alias("dst"),
    ).unionAll(
        seq.where(F.col("rn_last") == 1).select(
            F.col("event_type").alias("src"), absorb.alias("dst")
        )
    )
    # converted users whose journey is EMPTY (first event is the purchase):
    # START absorbs directly. Anti-join on the bounded per-user journey set.
    empty = (
        tagged.where(F.col("converted") == 1)
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("n_prev_purch") == 0) & (F.col("event_type") != "purchase"),
                    F.col("event_type"),
                )
            ).alias("probe")
        )
    )
    direct = (
        empty.where(F.col("probe").isNull())
        .select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    )
    tm = steps.unionAll(direct).groupBy("src", "dst").agg(F.count("*").cast("bigint").alias("n")).collect()  # bounded: <= (#event_types+2)^2 transition-matrix cells (state space, never data volume)

    counts: dict[tuple[str, str], int] = {(r.src, r.dst): r.n for r in tm}
    channels = sorted({s for s, _ in counts} | {d for _, d in counts} - {"START", "CONV", "NULL"})
    channels = [c for c in channels if c not in ("START", "CONV", "NULL")]
    trans = ["START", *channels]
    idx = {s: i for i, s in enumerate(trans)}
    n_conv = sum(n for (s, d), n in counts.items() if d == "CONV")

    def absorption(blocked: str | None) -> float:
        """P(absorb CONV | START) with transitions into ``blocked``
        redirected to NULL — (I − Q)a = r in float64."""
        k = len(trans)
        Q = np.zeros((k, k))
        r = np.zeros(k)
        for s in trans:
            row = {d: n for (src, d), n in counts.items() if src == s}
            tot = sum(row.values())
            if not tot:
                continue
            for d, n in row.items():
                p = n / tot
                if d == blocked or d == "NULL":
                    continue
                if d == "CONV":
                    r[idx[s]] += p
                else:
                    Q[idx[s], idx[d]] += p
        return float(np.linalg.solve(np.eye(len(trans)) - Q, r)[idx["START"]])

    p_conv = absorption(None)
    # degenerate histories guard: no conversions at all, or every
    # conversion direct from START (all removal effects 0) — credit
    # nothing rather than divide by zero
    effects = (
        {c: (p_conv - absorption(c)) / p_conv for c in channels} if p_conv else {c: 0.0 for c in channels}
    )
    tot_eff = sum(effects.values())
    rows = [
        (
            c,
            float(effects[c]),
            float(effects[c] / tot_eff) if tot_eff else 0.0,
            float(n_conv * effects[c] / tot_eff) if tot_eff else 0.0,
        )
        for c in channels
    ]
    return spark.createDataFrame(
        rows,
        "channel string, removal_effect double, weight double, attributed_conversions double",
    )
