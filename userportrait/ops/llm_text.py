"""§2.K (text half) — LLM-training-data text analysis over ``documents``.

The reference has no text-corpus tooling (its text analysis is the
product-preference keyword match, SURVEY §2.K basis column); these four ops
are the EXT extension mandated by BASELINE.json:6: corpus token stats,
n-grams, pure-SQL TF-IDF, and per-language metadata stats.

Scale notes (100 TB): every op here is a single explode→groupBy pipeline —
map-side combine applies (partial aggregation before the shuffle), the
shuffle key is the token/bigram (high cardinality → even distribution), and
nothing touches the driver. top-k is a global ``orderBy().limit(k)`` which
Spark executes as per-partition top-k + single small merge (TakeOrdered),
not a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, path_bytes, width
from ..registry import op

# Per-task input of the CPU-heavy per-row text stages (tokenize, explode,
# fold over documents, and frames row-proportional to them), in PARQUET
# bytes of the documents table: 64 KiB is ~0.25-0.5 MB of raw text after
# compression, roughly 0.5-2 s of interpreted work per task. Sizing the
# fan-out from volume keeps a toy corpus from paying one task round-trip
# per core (q_bm25 at 8 cores ran in 0.39x of its 32-core time when the
# width was the fleet width outright), while corpus-scale inputs still
# reach the full fleet width.
TEXT_TASK_BYTES = 65536


def _tokens(doc_df: DataFrame) -> DataFrame:
    """(doc_id, lang, token) — one row per token occurrence, split on spaces."""
    return doc_df.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")


@op(
    "text_tokenize_topk",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token ASC
    LIMIT 20
    """,
)
def text_tokenize_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 tokens by frequency (tie-break token asc).

    explode(split) → count — the canonical word-count; the limit(20) runs as
    TakeOrdered (per-partition heap + driver merge of 20-row heaps), so the
    full token-count table is never globally sorted.
    """
    d = load(spark, sf_dir).documents
    return (
        _tokens(d)
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@op(
    "text_ngram",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    )
    SELECT lang, bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM bg
    GROUP BY lang, bigram
    HAVING count(*) >= 5
    """,
)
def text_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts per language (bigrams seen ≥5×).

    Bigrams are built array-side (sequence + transform over the token array)
    BEFORE the explode, so the shuffle carries (lang, bigram) pairs only —
    no window/self-join over token positions.
    """
    d = load(spark, sf_dir).documents
    t = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
    )
    return (
        # short-doc guard: Spark sequence(0, n) DESCENDS for n < 0 (a 1-token
        # doc would error on element_at(t, 0)); DuckDB's generate_series is
        # empty there — filter to match that semantics exactly
        d.where(F.size(t) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") >= 5)
    )


@op(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) DESC,
                                         tf.token ASC) AS rn
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token AS top_token, tfidf FROM scored WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL TF-IDF: tf per (doc, token), idf = ln(N/df), top token per doc
    by tf·idf rounded to 4dp (tie-break token asc, SURVEY §2.K).

    The doc-frequency table is tiny (vocabulary-sized) → broadcast to the tf
    side, so the only real shuffle is the tf groupBy. N comes from a scalar
    agg (crossJoin of a 1-row frame — Catalyst folds it to a broadcast).
    Ordering uses the ROUNDED score so rank is reproducible across engines
    despite last-ulp ln() differences.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir).documents
    tf = (
        _tokens(d)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # (doc_id, token) is unique in tf, so df = row count per token, computed
    # as a WINDOW over tf rather than a separate groupBy branch: a second
    # branch re-derives tf from the raw corpus (Catalyst does not reuse the
    # subtree across differently-keyed aggregates), doubling the expensive
    # scan+explode. The window shuffles only the compact (doc,token,tf)
    # table on token — the corpus itself is scanned exactly once.
    w_tok = Window.partitionBy("token")
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.withColumn("df", F.count("*").over(w_tok))
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_token"), "tfidf")
    )


@op(
    "text_lang_source_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(CAST(sum(CAST(n_chars AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS VARCHAR) AS DOUBLE) AS avg_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus metadata: doc count, avg length (decimal-exact sum
    then one double division — SURVEY §2.0 rule 1), distinct sources, min/max
    length. Single map-side-combinable groupBy on a low-cardinality key."""
    d = load(spark, sf_dir).documents
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(38,4)")).cast("double") / F.count("*")
        ).cast("double").alias("avg_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Round-2 extensions (the training-data-pipeline text toolkit beyond SURVEY
# §2.K's original four): language-ID, quality scoring, token counting,
# document fingerprinting. All pure DataFrame/SQL — no Python on the data
# path — and all EXACT-oracled.
# ---------------------------------------------------------------------------

_STOPWORDS = ("a", "the", "and", "of", "to")


@op(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
           CAST(length(text) AS INT) AS n_chars_actual
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer ([a-z]+ | digit runs | single other) — the unit-economics
    pre-check of every training-data pipeline. Pure string functions,
    fully pushed into whole-stage codegen."""
    d = load(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("int").alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("int").alias("re_tokens"),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


@op(
    "text_quality_score",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             (n_chars - (len(toks) - 1)) / len(toks) AS mean_token_len,
             CAST(len(list_filter(toks, x -> x = 'a' OR x = 'the' OR x = 'and' OR x = 'of' OR x = 'to')) AS DOUBLE)
               / len(toks) AS stopword_ratio,
             n_alpha / n_chars AS alpha_ratio
      FROM q
    )
    SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, alpha_ratio,
           CASE WHEN n_tokens >= 50 AND stopword_ratio >= 0.02 AND mean_token_len >= 3 THEN 'good'
                WHEN n_tokens >= 20 THEN 'fair'
                ELSE 'poor' END AS quality
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: token count, mean token length, stopword
    ratio, alphabetic ratio, bucketed into good/fair/poor — the classic
    pre-training corpus filter (length/punct/stopword heuristics). Every
    ratio is one exact-integer division, so doubles match cross-engine."""
    d = load(spark, sf_dir).documents
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text").cast("double")
    n_alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    mean_tok = (n_chars - (n_tokens - F.lit(1))) / n_tokens
    quality = (
        F.when(
            (n_tokens >= 50) & (stop_hits.cast("double") / n_tokens >= 0.02) & (mean_tok >= 3),
            "good",
        )
        .when(n_tokens >= 20, "fair")
        .otherwise("poor")
    )
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        mean_tok.alias("mean_token_len"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        (n_alpha / n_chars).alias("alpha_ratio"),
        quality.alias("quality"),
    )


@op(
    "text_lang_id",
    oracle="""
    WITH tri AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, length(text) - 2),
                                   i -> substring(text, i, 3))) AS tg
      FROM documents
    ), profile AS (
      SELECT lang, tg FROM (
        SELECT lang, tg, row_number() OVER (PARTITION BY lang
                                            ORDER BY count(*) DESC, tg ASC) AS rn
        FROM tri GROUP BY lang, tg
      ) WHERE rn <= 20
    ), doc_tg AS (
      SELECT DISTINCT doc_id, tg FROM tri
    ), scores AS (
      SELECT d.doc_id, p.lang AS cand_lang, count(*) AS hits
      FROM doc_tg d JOIN profile p USING (tg)
      GROUP BY d.doc_id, p.lang
    ), best AS (
      SELECT doc_id, cand_lang, CAST(hits AS BIGINT) AS hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC) AS rn
      FROM scores
    )
    SELECT b.doc_id, b.cand_lang AS predicted_lang, b.hits,
           d2.lang AS actual_lang
    FROM best b JOIN documents d2 ON b.doc_id = d2.doc_id
    WHERE b.rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by character-trigram profile: learn each
    language's top-20 trigrams from the corpus, score every doc by profile
    overlap, predict the best-scoring language (hits desc, lang asc).

    Scale shape: the profile is vocabulary-bounded (20 rows × #langs) →
    broadcast; docs never pairwise-compare. The trigram explode is the only
    wide stage and combines map-side."""
    from pyspark.sql import Window

    # repartition: trigram explode is generated single-core off a one-split
    # scan at test scale (see minhash_sig_wide note)
    nt = width(spark, path_bytes(f"{sf_dir}/documents.parquet"), TEXT_TASK_BYTES)
    d = load(spark, sf_dir).documents.repartition(nt, "doc_id")
    tri = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ).alias("tg"),
    )
    w_p = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tg").asc())
    profile = (
        tri.groupBy("lang", "tg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_p))
        .where(F.col("rn") <= 20)
        .select(F.col("lang").alias("cand_lang"), "tg")
    )
    doc_tg = tri.select("doc_id", "tg").distinct()
    scores = doc_tg.join(F.broadcast(profile), "tg").groupBy("doc_id", "cand_lang").agg(
        F.count("*").cast("bigint").alias("hits")
    )
    w_b = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand_lang").asc())
    best = scores.withColumn("rn", F.row_number().over(w_b)).where(F.col("rn") == 1)
    return best.join(d.select("doc_id", F.col("lang").alias("actual_lang")), "doc_id").select(
        "doc_id", F.col("cand_lang").alias("predicted_lang"), "hits", "actual_lang"
    )


@op(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(text)),
                              i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000000007) AS rolling_hash,
           min(md5s.h) AS min_shingle_md5
    FROM documents,
         LATERAL (SELECT md5(unnest(list_distinct(
                    list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                                   i -> substring(text, i, 5))))) AS h) md5s
    GROUP BY doc_id, text
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: a Rabin-Karp-style rolling hash of the full
    character stream (base-31 fold mod 1e9+7 — sequential ``F.aggregate``
    fold, bit-identical to DuckDB's list_reduce) plus the winnowing-style
    minimum shingle-md5. Content-defined identity for cheap re-crawl
    dedup; one narrow map stage, no shuffle at all."""
    # repartition: the per-char fold is interpreted (CodegenFallback) and the
    # scan is one split at test scale — spread it across cores
    nt = width(spark, path_bytes(f"{sf_dir}/documents.parquet"), TEXT_TASK_BYTES)
    d = load(spark, sf_dir).documents.repartition(nt, "doc_id")
    chars = F.expr("transform(sequence(1, length(text)), i -> cast(ascii(substring(text, i, 1)) as bigint))")
    rolling = F.aggregate(chars, F.lit(0).cast("bigint"), lambda a, c: (a * 31 + c) % 1000000007)
    shingle_md5s = F.expr(
        "transform(array_distinct(transform(sequence(1, greatest(length(text) - 4, 1)),"
        " i -> substring(text, i, 5))), s -> md5(s))"
    )
    return d.select(
        "doc_id",
        rolling.alias("rolling_hash"),
        F.array_min(shingle_md5s).alias("min_shingle_md5"),
    )


@op(
    "text_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch, length(text) AS n
      FROM documents
    ), freq AS (
      SELECT doc_id, ch, n, count(*) AS c FROM chars WHERE ch <> '' GROUP BY doc_id, ch, n
    ), ent AS (
      SELECT doc_id, round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 4) AS entropy
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, entropy,
           CASE WHEN entropy < 3.5 THEN 'low' WHEN entropy < 4.2 THEN 'mid' ELSE 'high' END AS entropy_band
    FROM ent
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic cheap
    quality/garbage signal (boilerplate and key-mashing sit far from
    natural-language entropy). explode to chars → per-doc char histogram →
    -Σ p·log2 p, banded. Two same-key shuffles on doc_id (histogram +
    entropy sum) that combine map-side; log2 ulp drift between libm and
    the JVM is absorbed by round-4."""
    d = load(spark, sf_dir).documents
    chars = d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.split("text", "")).alias("ch"),
    ).where(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch", "n").agg(F.count("*").alias("c"))
    p = F.col("c").cast("double") / F.col("n")
    ent = freq.groupBy("doc_id").agg(F.round(-F.sum(p * F.log2(p)), 4).alias("entropy"))
    return ent.select(
        "doc_id",
        "entropy",
        F.when(F.col("entropy") < 3.5, "low")
        .when(F.col("entropy") < 4.2, "mid")
        .otherwise("high")
        .alias("entropy_band"),
    )


N_EVAL_DOCS = 20  # doc_id < 20 plays the held-out benchmark set
CONTAM_NGRAM = 8


@op(
    "text_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - {CONTAM_NGRAM} + 1, 0)),
                    i -> array_to_string(list_slice(toks, i, i + {CONTAM_NGRAM} - 1), ' '))) AS g
      FROM tok
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id < {N_EVAL_DOCS}
    ), hits AS (
      SELECT gr.doc_id, count(DISTINCT gr.g) AS n_shared_grams
      FROM grams gr JOIN eval_grams e ON e.g = gr.g
      WHERE gr.doc_id >= {N_EVAL_DOCS}
      GROUP BY gr.doc_id
    )
    SELECT doc_id, CAST(n_shared_grams AS BIGINT) AS n_shared_grams
    FROM hits
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screening: flags training documents sharing
    any {CONTAM_NGRAM}-gram with the held-out eval set (doc_id < 20 plays
    the benchmark), reporting how many distinct eval n-grams each
    contaminated doc contains — the decontamination pass every serious
    pretraining pipeline runs. The eval n-gram set is bounded by the eval
    SUITE size, not the corpus — but it is still data-derived (a long eval
    doc fans out to thousands of grams), so no hard broadcast hint: AQE
    broadcasts it at its measured size, and the corpus side streams its
    n-grams through that join in one narrow pass either way."""
    nt = width(spark, path_bytes(f"{sf_dir}/documents.parquet"), TEXT_TASK_BYTES)
    d = load(spark, sf_dir).documents
    grams = d.repartition(nt, "doc_id").select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(split(text, ' ')) - {CONTAM_NGRAM} + 1, 0)),"
                f" i -> array_join(slice(split(text, ' '), i, {CONTAM_NGRAM}), ' '))"
            )
        ).alias("g"),
    )
    eval_grams = grams.where(F.col("doc_id") < N_EVAL_DOCS).select("g").distinct()
    return (
        grams.where(F.col("doc_id") >= N_EVAL_DOCS)
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("bigint").alias("n_shared_grams"))
    )


@op(
    "text_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram,
             unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i])) AS w1
      FROM tok WHERE len(toks) >= 2
    ), bgc AS (
      SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram
    ), ugc AS (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
    )
    SELECT b.doc_id,
           round(sum(log2(CAST(bc.c12 AS DOUBLE) / uc.c1)) / count(*), 4) AS avg_log2_p,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bg b
    JOIN bgc bc ON bc.bigram = b.bigram
    JOIN ugc uc ON uc.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LM quality score (the n-gram cousin of CCNet's LM
    filter): every document is scored by the mean log2 of its bigrams'
    corpus MLE probability P(w2|w1) = c(w1 w2)/c(w1) — fluent text scores
    near the corpus distribution, garbage scores far below. Corpus bigram
    and unigram-context counts are map-side-combined aggregates; scoring
    is two hash joins back onto the bigram stream. log2 ulp drift between
    engines is absorbed by round-4 on the per-doc mean."""
    nt = width(spark, path_bytes(f"{sf_dir}/documents.parquet"), TEXT_TASK_BYTES)
    d = load(spark, sf_dir).documents
    bg = (
        d.repartition(nt, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(concat(toks[i-1], ' ', toks[i]) AS bigram, toks[i-1] AS w1))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.bigram").alias("bigram"), F.col("p.w1").alias("w1"))
    )
    bgc = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    ugc = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    return (
        bg.join(bgc, "bigram")
        .join(ugc, "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.log2(F.col("c12").cast("double") / F.col("c1"))) / F.count("*"), 4
            ).alias("avg_log2_p"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )


@op(
    "text_bm25_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), dl AS (
      SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ), n AS (SELECT count(*) AS n FROM documents),
    tot AS (SELECT sum(tf) AS tot FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(ln((CAST(n.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * ((CAST(tf.tf AS DOUBLE) * 2.2)
                      / (CAST(tf.tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                 / (CAST(tot.tot AS DOUBLE) / n.n))))), 4) AS score
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN tot
    ), ranked AS (
      SELECT doc_id, token, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc_id, CAST(rn AS INT) AS kw_rank, token AS keyword, score
    FROM ranked WHERE rn <= 3
    """,
)
def text_bm25_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords under Okapi BM25 (k1=1.2, b=0.75,
    Lucene-style ln(1 + (N-df+0.5)/(df+0.5)) idf) — the retrieval-grade
    keyword extractor. Differs from text_tfidf's ln(N/df)
    top-1 in both scorer (tf saturation + document-length normalization —
    long word-soup docs stop dominating on raw tf) and product shape
    (ranked per-doc keyword triples, the corpus-search / doc-metadata
    enrichment primitive).

    Same one-scan plan discipline as text_tfidf: tf is the only corpus
    scan; df AND dl both come from windows over the compact (doc, token,
    tf) table, so no branch re-derives tf (the Catalyst double-eval trap);
    the two global scalars (N, total tokens) ride one broadcast 1-row
    frame. Ordering uses the ROUNDED score so rank is reproducible across
    engines despite last-ulp ln() differences."""
    from pyspark.sql import Window


    # repartition: the tokenize+explode+partial-agg runs inside the SCAN
    # stage, and a single-split documents scan (the one-row-group fixture
    # files, or any small-file corner of a real layout) serializes the
    # whole corpus tokenization into one task — in BOTH branches that
    # derive tf (measured: ~1 s single-task stages). Same
    # convention as text_entropy / text_lang_id / text_contamination.
    nt = width(spark, path_bytes(f"{sf_dir}/documents.parquet"), TEXT_TASK_BYTES)
    d = load(spark, sf_dir).documents.repartition(nt, "doc_id")
    tf = _tokens(d).groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # Both global scalars from ONE documents pass: deriving `tot` from the
    # tf table would re-run the whole tokenize → explode → groupBy just to
    # sum it (a second ~0.3 s 32-task tokenize stage per run at sf0.1; a
    # second full-corpus tokenization at scale). Σ tf == Σ per-doc non-empty
    # token counts, and the per-doc count is a map-side array expression
    # on the same scan that counts n — integer-exact, null text counts 0
    # tokens exactly as explode drops it.
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
    n = d.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("text").isNull(), 0).otherwise(ntok)).cast("bigint").alias("tot"),
    )
    w_tok = Window.partitionBy("token")
    w_doc = Window.partitionBy("doc_id")
    tf_d = F.col("tf").cast("double")
    avgdl = F.col("tot").cast("double") / F.col("n")
    idf = F.log(
        (F.col("n").cast("double") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfc = (tf_d * F.lit(2.2)) / (
        tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl))
    )
    # The two window exchanges (token, then doc_id) are ENSURE_REQUIREMENTS
    # exchanges over the compact (doc, token, tf) table — small in BYTES, so
    # AQE coalesces each to one partition and the full-table sorts under the
    # windows run serially (measured: two ~0.2 s single-task stages at sf0.1).
    # User-specified widths are exempt; the windows reuse these exchanges
    # (same key), so no shuffle is added — the doc_id one also carries the
    # final rank window.
    scored = (
        tf.repartition(nt, "token")
        .withColumn("df", F.count("*").over(w_tok))
        .repartition(nt, "doc_id")
        .withColumn("dl", F.sum("tf").over(w_doc))
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.round(idf * tfc, 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", F.col("rn").cast("int").alias("kw_rank"), F.col("token").alias("keyword"), "score")
    )


COOCCUR_V = 50
COOCCUR_MIN = 5


@op(
    "text_cooccur_lift",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
    ), vocab AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT {COOCCUR_V}
    ), vt AS (
      SELECT dt.doc_id, dt.tok FROM dt JOIN vocab USING (tok)
    ), pr AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
      HAVING count(*) >= {COOCCUR_MIN}
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT tok_a, tok_b, va.df AS n_a, vb.df AS n_b, n_ab,
           CAST(n_ab * nd.n AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE) AS lift
    FROM pr
    JOIN vocab va ON pr.tok_a = va.tok
    JOIN vocab vb ON pr.tok_b = vb.tok
    CROSS JOIN nd
    """,
)
def text_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift over the top-{V} vocabulary: for every
    vocab pair co-occurring in >= {MIN} documents, P(a,b)/(P(a)P(b)) as
    the exact rational n_ab*N / (n_a*n_b) — the collocation / topic-
    affinity signal (pointwise mutual information is its log; the log is
    monotone, so ranking by lift IS ranking by PMI, and skipping it keeps
    every value exact-from-integers, the doc_split_drift policy).

    Scale shape: doc-frequency groupBy (map-side combinable), top-V vocab
    via orderBy+limit (TakeOrderedAndProject — never a global window),
    semi-join restriction of the token table to V rows (AQE broadcasts
    the tiny side on its own), then the pair self-join keyed on doc_id —
    per-doc fan-out is C(min(V, doc tokens), 2), bounded by V² per doc,
    and the pair aggregate lands on a <= V²/2-row grid. N-docs is a 1-row
    scalar joined nested-loop; no driver collect anywhere."""
    d = load(spark, sf_dir).documents
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    df = dt.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    vocab = df.orderBy(F.col("df").desc(), "tok").limit(COOCCUR_V)
    vt = dt.join(vocab.select("tok"), "tok").select("doc_id", "tok")
    a, b = vt.alias("a"), vt.alias("b")
    pr = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= COOCCUR_MIN)
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n"))
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("n_a"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("n_b"))
    return (
        pr.join(va, "tok_a")
        .join(vb, "tok_b")
        .crossJoin(nd)
        .select(
            "tok_a",
            "tok_b",
            "n_a",
            "n_b",
            "n_ab",
            ((F.col("n_ab") * F.col("n")).cast("double") / (F.col("n_a") * F.col("n_b")).cast("double")).alias("lift"),
        )
    )


# BPE merge training: bounded driver-side loop over a DISTRIBUTED
# word-count cap — the _pq_codebooks convention (the expensive part at
# 100 TB is the corpus word count, one map-side-combinable shuffle; the
# merge loop runs on a capped, corpus-size-independent word table, which
# is how production tokenizer training works too).
BPE_MERGES = 24
BPE_VOCAB_CAP = 2048


def bpe_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Greedy left-to-right application of the merge table to one word —
    the tokenizer-side half of BPE, shared by the op (training applies
    each new merge the same way) and the round-trip invariant test."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@op("text_bpe_train", oracle=None)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE (byte-pair encoding) merge-table training over the documents
    corpus — the tokenizer-training step of an LLM data pipeline
    (Sennrich et al. 2016), sized the way production trainers size it:
    the CORPUS-SCALE work is the distributed word count (one
    map-side-combinable shuffle over every token at 100 TB); the merge
    loop then runs on a deterministic, corpus-size-independent cap of the
    word-count table (top BPE_VOCAB_CAP by count, word-lexicographic
    tie-break — the _pq_codebooks bounded-sample convention, ~50 KB
    collected). Each of BPE_MERGES iterations counts adjacent symbol
    pairs weighted by word count, picks the most frequent (count desc,
    pair lexicographic tie-break — fully deterministic, no RNG), and
    applies it greedily left-to-right via the same ``bpe_apply`` kernel a
    tokenizer would use.

    Oracle = ROWS: the 24-level iterative recurrence has no tractable
    SQL unrolling (each level needs an argmax scalar and a sequence
    rewrite). Exactness is gated harder than a DuckDB hash instead:
    tests/test_invariants.py::test_bpe_merges_deterministic_and_consistent
    recounts merge #1's pair count DISTRIBUTED (explode bigrams →
    groupBy → max) and asserts bit-equality, checks merged == left||right
    every step, and round-trips sample words through the merge table."""
    from collections import Counter

    toks = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ')), ' '), "
        "x -> length(x) >= 2)"
    )
    words = (
        load(spark, sf_dir)
        .documents.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    top = words.orderBy(F.desc("cnt"), "word").limit(BPE_VOCAB_CAP).collect()
    seqs: list[tuple[list[str], int]] = [(list(r.word), int(r.cnt)) for r in top]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, BPE_MERGES + 1):
        pair_counts: Counter = Counter()
        for syms, cnt in seqs:
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += cnt
        if not pair_counts:
            break
        # deterministic argmax: count desc, then pair lexicographic asc
        (a, b), c = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, int(c)))
        nxt = []
        for syms, cnt in seqs:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, cnt))
        seqs = nxt
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count bigint"
    )


@op("text_bpe_apply", oracle=None)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenization — the corpus-scale half of the
    tokenizer story (text_bpe_train learns the merge table on a bounded
    sample; THIS op pays the 100 TB cost of applying it to every
    document): the 24-row merge table travels in the task closure, an
    Arrow-batched ``mapInPandas`` kernel tokenizes each document with the
    same greedy ``bpe_apply`` the trainer used, and each doc emits its
    word / character / BPE-token counts plus the resulting
    chars-per-BPE-token compression ratio — the per-doc statistic a
    pretraining pipeline budgets sequence packing with (doc_pack_sequences
    consumes token counts; this is where subword counts come from).

    The kernel memoizes per unique word within each Arrow batch (Zipf:
    the hot words dominate), so per-batch cost is
    O(unique words × merges), not O(tokens × merges).

    Oracle = ROWS (the greedy merge recurrence is not SQL-expressible);
    gated instead by
    tests/test_invariants.py::test_bpe_apply_counts_consistent —
    n_words <= n_bpe_tokens <= n_chars per doc (merges only ever shrink
    the symbol count from characters toward words), plus a direct
    re-tokenization differential on sample docs."""
    import pandas as pd

    merges = [(r.left, r.right) for r in text_bpe_train(spark, sf_dir).collect()]  # 24-row merge table (metadata)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            memo: dict[str, int] = {}

            def n_bpe(word: str) -> int:
                got = memo.get(word)
                if got is None:
                    got = memo[word] = len(bpe_apply(word, merges))
                return got

            import re

            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # the trainer's exact token stream: non-alpha -> space,
                # lowercase, split, len >= 2
                alpha = [
                    w
                    for w in re.sub(r"[^a-zA-Z ]", " ", str(text)).lower().split()
                    if len(w) >= 2
                ]
                n_chars = sum(len(w) for w in alpha)
                toks = sum(n_bpe(w) for w in alpha)
                rows.append((int(doc_id), len(alpha), n_chars, toks))
            out = pd.DataFrame(rows, columns=["doc_id", "n_words", "n_chars", "n_bpe_tokens"])
            yield out

    d = load(spark, sf_dir).documents.select("doc_id", "text")
    res = d.mapInPandas(
        kernel, "doc_id bigint, n_words bigint, n_chars bigint, n_bpe_tokens bigint"
    )
    return res.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )
