"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

Beyond-reference capability (SURVEY §7 Phase 6): the reference moves
opaque payloads; a modern 100 TB pipeline scores and filters them.
Everything here is built from JVM-side expressions (split/regexp/
higher-order functions) — no Python in the hot path — and every
operator has an exact DuckDB oracle mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from databus_spark.functions.hashes import portable_hash64, portable_hash64_sql

# Marker-token lists for the n-gram/stopword language heuristic.
# (Tiny on purpose: a broadcastable dimension, not a model.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "fr": ["le", "la", "les", "et", "est", "avec"],
    "de": ["der", "die", "das", "und", "ist", "mit"],
    "es": ["el", "los", "las", "es", "con", "para"],
    "zh": ["的", "是", "和", "在", "了", "不"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

# A BPE-ish token regex: word pieces, digits, or single punctuation marks.
BPE_REGEX = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def tokens_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), "\\s+")


TOKENS_SQL = "regexp_split_to_array(lower(trim({col})), '\\s+')"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword count + char count."""
    toks = tokens_col(text_col)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_REGEX)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars_measured"),
    )


TOKEN_STATS_SQL = f"""
    SELECT doc_id,
           len({TOKENS_SQL.format(col='text')}) AS n_tokens,
           len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_bpe_tokens,
           length(text) AS n_chars_measured
    FROM documents
"""


def quality_exprs(text_col: str = "text") -> list[Column]:
    """The quality-score feature columns as bare expressions, so callers
    composing several per-row signal families (curation_decisions) can
    fuse them into ONE projection — Catalyst's subexpression elimination
    then computes the token split once per row across families, and no
    doc_id self-join is needed."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    stop_list = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    mean_wlen = (n_chars - (n_tokens - 1)) / n_tokens  # chars net of single spaces

    stop_ratio = n_stop / n_tokens
    alpha_ratio = n_alpha / n_chars
    len_ok = (n_tokens >= 10) & (n_tokens <= 1000)
    score = (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.least(stop_ratio * 3.0, F.lit(0.3))
        + alpha_ratio * 0.3
    )
    return [
        n_tokens.alias("n_tokens"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality"),
    ]


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0,1].

    Features mirror the usual pretraining-corpus filters: document
    length, mean word length, stopword ratio, alpha ratio.
    """
    from databus_spark.plans.hints import widen_scan

    return widen_scan(docs).select("doc_id", *quality_exprs(text_col))


def _quality_sql() -> str:
    toks = TOKENS_SQL.format(col="text")
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               round((n_chars - (n_tokens - 1)) / n_tokens, 4) AS mean_word_len,
               round(n_stop / n_tokens, 4) AS stop_ratio,
               round(n_alpha / n_chars, 4) AS alpha_ratio,
               round(CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END
                     + least(n_stop / n_tokens * 3.0, 0.3)
                     + n_alpha / n_chars * 0.3, 4) AS quality
        FROM (
            SELECT doc_id,
                   CAST(len({toks}) AS DOUBLE) AS n_tokens,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(len(list_filter({toks}, t -> t IN ({stop_in}))) AS DOUBLE) AS n_stop,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha
            FROM documents
        )
    """


QUALITY_SQL = _quality_sql()


def lang_exprs(text_col: str = "text") -> list[Column]:
    """(pred_lang, marker_hits) as bare expressions — see quality_exprs
    for why signal families expose their columns for projection fusion."""
    toks = tokens_col(text_col)
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(markers, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # argmax: max of (hits, reversed-lang) struct; ties -> smallest lang code
    best = F.greatest(*[
        F.struct(s["hits"].alias("hits"), F.lit(-i).alias("pri"), s["lang"].alias("lang"))
        for i, s in enumerate(scores)
    ])
    return [
        F.when(best["hits"] > 0, best["lang"]).otherwise("und").alias("pred_lang"),
        best["hits"].cast("int").alias("marker_hits"),
    ]


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic: argmax of per-language marker hits.

    Deterministic tie-break by language code; 'und' when nothing hits.
    """
    from databus_spark.plans.hints import widen_scan

    return widen_scan(docs).select("doc_id", *lang_exprs(text_col))


def _lang_id_sql() -> str:
    toks = TOKENS_SQL.format(col="text")
    langs = sorted(LANG_MARKERS)
    hit_cols = []
    for lang in langs:
        marker_in = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hit_cols.append(f"len(list_filter(toks, t -> t IN ({marker_in}))) AS h_{lang}")
    # argmax with priority = reverse index (earlier lang wins ties), like greatest(struct)
    structs = ", ".join(
        f"{{'hits': h_{lang}, 'pri': {-i}, 'lang': '{lang}'}}" for i, lang in enumerate(langs)
    )
    return f"""
        SELECT doc_id,
               CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS pred_lang,
               CAST(best.hits AS INT) AS marker_hits
        FROM (
            SELECT doc_id, list_max([{structs}]) AS best
            FROM (
                SELECT doc_id, {', '.join(hit_cols)}
                FROM (SELECT doc_id, {toks} AS toks FROM documents)
            )
        )
    """


LANG_ID_SQL = _lang_id_sql()


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Document fingerprint: min rolling hash over k-token shingles
    (one-hash minhash — the winnowing primitive), plus shingle count.

    Physical shape: fully per-row array expressions — zero shuffle,
    embarrassingly parallel. (An explode+groupBy variant was measured
    SLOWER at sf0.1: the countDistinct shuffle costs more than the
    per-row work it saves; the zip_with gram chain in _ngrams cut that
    per-row work a further ~6x over sequence+slice.)
    """
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # per-row gram+hash chain: 2.98->0.42 s
    toks = tokens_col(text_col)
    shingles = _ngrams(toks, k, short_doc_whole=True)
    hashes = F.transform(shingles, lambda s: portable_hash64(s, 0))
    return docs.select(
        "doc_id",
        F.array_min(hashes).alias("fingerprint"),
        F.size(F.array_distinct(shingles)).alias("n_shingles"),
    )


def _fingerprint_sql(k: int = 5) -> str:
    toks = TOKENS_SQL.format(col="text")
    h = portable_hash64_sql("s", 0)
    return f"""
        SELECT doc_id,
               list_min(list_transform(shingles, s -> {h})) AS fingerprint,
               len(list_distinct(shingles)) AS n_shingles
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(0, greatest(len(toks) - {k}, 0) + 1),
                       i -> array_to_string(toks[i+1 : i+{k}], ' ')
                   ) AS shingles
            FROM (SELECT doc_id, {toks} AS toks FROM documents)
        )
    """


FINGERPRINT_SQL = _fingerprint_sql()


# ---------------------------------------------------------------------------
# Repetition filter (Gopher-style duplicate-n-gram / top-token fractions)
# ---------------------------------------------------------------------------

# Flag thresholds — a doc trips the filter when ANY dimension exceeds its
# threshold (the Gopher rule shape: duplicate-bigram fraction, duplicate-
# trigram fraction, most-frequent-token fraction).
REP_DUP2_MAX = 0.08
REP_DUP3_MAX = 0.04
REP_TOP_TOKEN_MAX = 0.12


def _ngrams(toks: Column, n: int, short_doc_whole: bool = False) -> Column:
    """Space-joined n-gram strings via an iterative zip_with chain.

    zip_with(g_{k-1}, toks<<k, concat) is ~16x faster than the
    sequence+transform+slice form (no per-gram index array or slice
    allocation). zip_with pads the shorter side with NULL, producing
    degenerate short grams at the tail — the final slice trims to the
    exact n-k+1 count.

    Docs shorter than n tokens yield [] by default; with
    short_doc_whole the whole doc becomes the single gram (the
    winnowing/fingerprint convention)."""
    size = F.size(toks)
    grams = toks
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(toks, j, size), lambda g, t: F.concat_ws(" ", g, t)
        )
    short = (
        F.array(F.concat_ws(" ", toks))
        if short_doc_whole
        else F.array().cast("array<string>")
    )
    return F.when(size >= n, F.slice(grams, 1, size - n + 1)).otherwise(short)


def repetition_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc repetition features + composite flag.

    dup{2,3}gram_frac are pure per-row array expressions (zero shuffle);
    top_token_frac needs the per-doc token mode, computed with ONE
    map-side-combinable explode+count aggregation — at 100 TB that is a
    single shuffle keyed by (doc_id, token), no skew (doc_id spreads it).
    """
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # n-gram build is per-row CPU: 2.36->0.73 s
    toks = tokens_col(text_col)
    n = F.size(toks)

    def dup_frac(k: int) -> Column:
        # total n-gram count comes from arithmetic (n-k+1), NOT size(grams):
        # the gram array is interpreted-HOF work, so it must be built exactly
        # once per row (for the distinct count) — measured 2x faster.
        total = F.when(n >= k, n - k + 1).otherwise(F.lit(0))
        return F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(_ngrams(toks, k))) / F.nullif(total, F.lit(0)),
            6,
        )

    per_row = docs.select(
        "doc_id", dup_frac(2).alias("dup_2gram_frac"), dup_frac(3).alias("dup_3gram_frac")
    )
    counts = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("_mx"), F.sum("count").alias("_sm"))
    )
    joined = per_row.join(counts, "doc_id").withColumn(
        "top_token_frac", F.round(F.col("_mx") / F.col("_sm").cast("double"), 6)
    )
    return joined.select(
        "doc_id",
        "dup_2gram_frac",
        "dup_3gram_frac",
        "top_token_frac",
        (
            (F.col("dup_2gram_frac") > REP_DUP2_MAX)
            | (F.col("dup_3gram_frac") > REP_DUP3_MAX)
            | (F.col("top_token_frac") > REP_TOP_TOKEN_MAX)
        ).alias("is_repetitive"),
    )


def _repetition_sql() -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
        SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_token_frac,
               (dup_2gram_frac > {REP_DUP2_MAX} OR dup_3gram_frac > {REP_DUP3_MAX}
                OR top_token_frac > {REP_TOP_TOKEN_MAX}) AS is_repetitive
        FROM (
            SELECT doc_id,
                   round(1 - len(list_distinct(g2))/nullif(len(g2),0), 6) AS dup_2gram_frac,
                   round(1 - len(list_distinct(g3))/nullif(len(g3),0), 6) AS dup_3gram_frac
            FROM (
                SELECT doc_id,
                       CASE WHEN len(t) >= 2 THEN list_transform(
                           range(0, greatest(len(t)-2,0)+1),
                           i -> array_to_string(t[i+1:i+2],' ')) ELSE [] END AS g2,
                       CASE WHEN len(t) >= 3 THEN list_transform(
                           range(0, greatest(len(t)-3,0)+1),
                           i -> array_to_string(t[i+1:i+3],' ')) ELSE [] END AS g3
                FROM (SELECT doc_id, {toks} AS t FROM documents)
            )
        )
        JOIN (
            SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac
            FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
                GROUP BY doc_id, tok
            )
            GROUP BY doc_id
        ) USING (doc_id)
    """


REPETITION_SQL = _repetition_sql()


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    # r7: IPv4 literals — the fourth crisp regex-expressible PII class.
    # Runs LAST: the phone pattern cannot span dots, so order is safe.
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}

_PII_ORDER = ("email", "ssn", "phone", "ip")


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex-based PII redaction: emails/phones/SSNs/IPv4s replaced with
    typed placeholders; per-doc match counts kept for audit. Pure regexp
    expressions — JVM-side (Java-regex ∩ RE2 common dialect), order:
    ssn before phone (ssn is a phone substring otherwise), ip last."""
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # 8 regex passes per row on the scan task
    redacted = F.col(text_col)
    counts = []
    for kind in _PII_ORDER:
        pat = PII_PATTERNS[kind]
        counts.append(F.regexp_count(redacted, F.lit(pat)).alias(f"n_{kind}"))
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return docs.select("doc_id", *counts, redacted.alias("redacted_text"))


def redact_pii_sql(source_sql: str) -> str:
    expr = "text"
    counts = []
    for kind in _PII_ORDER:
        pat = PII_PATTERNS[kind]
        counts.append(
            f"len(regexp_extract_all({expr}, '{pat}')) AS n_{kind}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '<{kind.upper()}>', 'g')"
    cols = ",\n               ".join(counts)
    return f"""
        SELECT doc_id,
               {cols},
               {expr} AS redacted_text
        FROM ({source_sql})
    """


# ---------------------------------------------------------------------------
# Unigram LM quality scoring (CCNet-style LM filtering, unigram stand-in)
# ---------------------------------------------------------------------------
# Score = mean negative log-likelihood of the doc's tokens under the
# corpus's own unigram distribution; high NLL = rare-token-heavy docs
# (boilerplate, gibberish, wrong-language) — the curation signal a real
# pipeline gets from a KenLM model, restated with a corpus-trained
# unigram table so it is exactly DuckDB-mirrorable.
#
# Scale shape: one explode + one groupBy(tok) builds the freq table (the
# "training" pass, map-side combinable); scoring is an equi-join on tok
# — vocab-sized right side, so AQE broadcasts it at small corpora and
# shuffle-joins at web scale, both fine. Per-token NLL is rounded to 6dp
# and summed as DECIMAL so the aggregate is order-independent and
# bit-identical across engines.


LM_BROADCAST_VOCAB_CAP = 4_000_000  # rows; a (tok, decimal) row is ~30 B,
# so the vocab broadcast is bounded at ~120 MB whatever the corpus does.


def lm_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # tokenize+explode map side of the tf agg
    # lazy checkpoint: the token explode feeds BOTH the tf table and the
    # per-doc scoring join — materialize it once instead of re-splitting
    # every document twice (same pattern as oov_rate below)
    toks = docs.select(
        "doc_id", F.explode(tokens_col(text_col)).alias("tok")
    ).localCheckpoint(eager=False)
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n_total"))
    nll = tf.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(-F.log(F.col("tf") / F.col("n_total")), 6)
        .cast("decimal(18,6)")
        .alias("tok_nll"),
    )
    # SIZE-GATED broadcast of the vocab table: the toks side is an
    # explode whose static size estimate is the parquet scan's — at the
    # x100 soak Catalyst broadcast the 27M-row CORPUS side (a 3.1 GB
    # single-task HashedRelation build, the whole family's mystery peak
    # and an OOM at real scale), so the vocab side carries the pin. But
    # vocab itself is only *usually* bounded — a token-diverse corpus
    # (random ids, code, multilingual web) grows it with the data — so
    # the hint is gated on the MEASURED vocab count (rides the
    # checkpoint job, zero extra jobs) with a sort-merge fallback above
    # the cap (r10 ADVICE #1's second instance of the class).
    from databus_spark.plans.hints import gated_broadcast

    return (
        toks.join(gated_broadcast(nll, LM_BROADCAST_VOCAB_CAP), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # truncated-6dp mean via exact micro-unit floor-division
            # (the novelty-ratio pattern): the scale-6 decimal sum is
            # integral in micro-units, so the only float op is one IEEE
            # divide — round(sum_as_double/count, 6) was one near-
            # boundary quotient away from a cross-engine mismatch
            # (proactive r6 fix; the bigram scorer DID hit it)
            F.expr(
                "cast(cast(sum(tok_nll) * 1000000 as bigint) div count(1) as double)"
                " / 1000000.0"
            ).alias("avg_nll"),
        )
    )


def lm_quality_score_sql(from_sql: str) -> str:
    toks_sql = TOKENS_SQL.format(col="text")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(toks) AS tok
            FROM (SELECT doc_id, {toks_sql} AS toks FROM ({from_sql}))
        ),
        tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
        total AS (SELECT sum(tf) AS n_total FROM tf),
        nll AS (
            SELECT tok,
                   CAST(round(-ln(CAST(tf AS DOUBLE) / n_total), 6) AS DECIMAL(18,6)) AS tok_nll
            FROM tf, total
        )
        SELECT doc_id, count(*) AS n_tokens,
               CAST(CAST(sum(tok_nll) * 1000000 AS BIGINT) // count(*) AS DOUBLE)
                   / 1000000.0 AS avg_nll
        FROM toks JOIN nll USING (tok)
        GROUP BY 1
    """


COMPRESS_SCHEMA = "doc_id BIGINT, n_bytes BIGINT, n_compressed BIGINT, compress_ratio DOUBLE"


def compressibility(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the CCNet/Gopher-style
    boilerplate signal: highly compressible text (low ratio) is
    repetitive machine-generated boilerplate, incompressible text is
    often binary junk; natural prose sits in a mid band.

    A codec genuinely needs Python, so this is the designed slow-path
    shape: Arrow-batched mapInPandas with a fixed 4-column output schema
    (prunable), deterministic bytes (zlib level pinned), no shuffle.
    DuckDB has no compression scalar, so the cross-engine oracle is a
    pytest pin against the Python zlib reference instead of SQL.
    """
    import zlib

    from collections.abc import Iterator as _Iterator

    import pandas as pd

    def batches(it: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in it:
            raw = pdf[text_col].map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len).astype("int64")
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "compress_ratio": (
                        n_comp / n_bytes.where(n_bytes > 0, 1)
                    ).round(6),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(batches, COMPRESS_SCHEMA)


def novelty_profile(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document n-gram novelty — the corpus-diversity curation signal:
    the fraction of a document's distinct k-grams appearing in NO other
    document. Low novelty = boilerplate/near-dup tail; high novelty =
    unique content worth keeping.

    Shape: one gram explode + ONE shuffle on the gram key. _shingles
    emits DISTINCT grams per doc, so the per-shingle row count IS the
    distinct-document frequency — a count window over the shingle
    partition replaces the df-aggregate-and-join-back form (which
    recomputed the explode on both join sides; measured 28 s -> ~4 s at
    sf0.1). The window is a plain count: no per-key state beyond the
    sort, so hot grams cost a sort, not memory.

    Cross-engine bit-exactness: the novelty ratio is computed as integer
    arithmetic — ``(n_unique_grams * 1e6) div n_grams`` (exact bigint
    floor-division in both Spark and DuckDB) followed by ONE IEEE-754
    double division by 1e6, which is bit-deterministic across engines.
    The previous ``round(double, 6)`` form diverged on near-tie ratios:
    Spark rounds via exact BigDecimal HALF_UP on the binary double while
    DuckDB rounds the scaled float (the r5 `text_novelty` hash mismatch).
    Semantics: novelty is truncated (floored) to 6 decimal places.
    """
    from pyspark.sql.window import Window as W

    from databus_spark.operators.dedup import _shingles

    grams = _shingles(docs, k)
    counted = grams.withColumn(
        "gram_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    )
    return (
        counted.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gram_df") == 1, 1).otherwise(0)).alias("n_unique_grams"),
        )
        .withColumn(
            "novelty",
            F.expr(
                "cast((n_unique_grams * 1000000L) div n_grams as double)"
                " / 1000000.0"
            ),
        )
    )


def novelty_profile_sql(from_sql: str, k: int = 5) -> str:
    from databus_spark.operators.dedup import _shingles_sql_over

    return f"""
        WITH grams AS ({_shingles_sql_over(from_sql, k)}),
        df AS (SELECT shingle, count(DISTINCT doc_id) AS gram_df FROM grams GROUP BY 1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               -- CAST: DuckDB types a bare integer sum() HUGEINT, which the
               -- driver's arrow/pandas fetch renders float64 while Spark emits
               -- bigint — the values hash-mismatch even when bit-identical.
               CAST(sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique_grams,
               CAST((sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END) * 1000000)
                    // count(*) AS DOUBLE) / 1000000.0 AS novelty
        FROM grams JOIN df USING (shingle)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate (tokenizer-coverage signal)
# ---------------------------------------------------------------------------
# BPE/tokenizer training wants to know how much of each document falls
# outside the candidate vocabulary: high-OOV docs are either noise or
# evidence the vocab is mis-sized. Vocabulary = top-V tokens by corpus
# frequency (ties broken by token string) — at scale a distributed
# TakeOrdered over the token-count agg, then BROADCAST back; the corpus
# token stream is scored map-side, never shuffled a second time.

OOV_VOCAB_SIZE = 200


def oov_rate(docs: DataFrame, vocab_size: int = OOV_VOCAB_SIZE) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate) against the corpus top-V
    vocabulary. Both the vocab ranking and the rate are deterministic
    (count DESC, token ASC; round 6dp)."""
    # lazy checkpoint: the token explode feeds BOTH the vocab ranking
    # and the per-doc scoring join — materialize it once instead of
    # re-tokenizing the corpus per consumer
    toks = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).localCheckpoint(eager=False)
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6),
        )
    )


def oov_rate_sql(from_sql: str, vocab_size: int = OOV_VOCAB_SIZE) -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({toks}) AS tok FROM ({from_sql})
        ),
        vocab AS (
            SELECT tok FROM toks GROUP BY tok
            ORDER BY count(*) DESC, tok ASC LIMIT {vocab_size}
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Length profile (log2 histogram per language)
# ---------------------------------------------------------------------------
# The curriculum/packing planner's first question: how are document
# lengths distributed per language? Log2 buckets are pure map-side math
# (floor(log2(n_chars))) + one agg — no sort, no percentile state, no
# skew (buckets are bounded); the exact-percentile alternative is
# lag_percentiles' machinery, this is the O(1)-memory profile.

def length_histogram(docs: DataFrame) -> DataFrame:
    """(lang, bucket, n_docs, min_chars, max_chars) where bucket =
    floor(log2(n_chars)); n_chars <= 0 guarded into bucket -1.

    The bucket is computed as length(bin(n)) - 1 — integer arithmetic,
    so engines can't disagree at exact powers of two the way a float
    log2 can (ln(1024)/ln(2) = 9.999... floors to 9 on some libms)."""
    bucket = F.when(
        F.col("n_chars") > 0,
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("int"),
    ).otherwise(F.lit(-1))
    return (
        docs.select("lang", "n_chars", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


LENGTH_HISTOGRAM_SQL = """
    SELECT lang,
           CASE WHEN n_chars > 0
                THEN CAST(length(bin(n_chars)) - 1 AS INT) ELSE -1 END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# BPE merge-step pair counting (tokenizer induction)
# ---------------------------------------------------------------------------
# The inner loop of byte-pair-encoding vocabulary training: count every
# ADJACENT token pair in the corpus and surface the merge candidates.
# One explode + one count shuffle per iteration — at 100 TB each BPE
# merge round is a single map-side-combinable aggregation, which is why
# corpus-scale tokenizer training is tractable at all. Pair strings are
# built with zip_with over two array slices (no positional explode+
# self-join, which would shuffle the token stream twice).

def bpe_pair_counts(docs: DataFrame, text_col: str = "text", top_n: int = 50) -> DataFrame:
    """(pair, n) for the top_n most frequent adjacent token pairs —
    the next-merge ranking of one BPE training iteration.
    Deterministic: count DESC, pair ASC."""
    toks = tokens_col(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    from databus_spark.plans.hints import widen_scan

    # widen the raw docs BEFORE the tokenize+explode so the per-row
    # work spreads (single-split fixture scan -> 1 task otherwise);
    # projecting text first keeps the exchange bytes minimal
    return (
        widen_scan(docs.select(F.col(text_col)))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def bpe_pair_counts_sql(from_sql: str, top_n: int = 50) -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
        SELECT pair, count(*) AS n
        FROM (
            SELECT unnest(list_transform(
                       range(1, greatest(len(toks), 1)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS pair
            FROM (SELECT {toks} AS toks FROM ({from_sql}))
        )
        GROUP BY 1
        ORDER BY n DESC, pair ASC
        LIMIT {top_n}
    """


# ---------------------------------------------------------------------------
# BPE merge LEARNING (k greedy rounds — actual tokenizer training)
# ---------------------------------------------------------------------------
# bpe_pair_counts ranks ONE round's candidates; learning a vocabulary
# is the iterative loop: count adjacent pairs -> adopt the most
# frequent as a merge rule -> rewrite the corpus -> repeat. The
# cross-engine trick that keeps this oracle-exact: the corpus lives as
# a chr(1)-delimited token string and a merge applies as a LITERAL
# string replace of '<d>a<d>b<d>' with '<d>a b<d>', run TWICE —
# replace() is left-to-right non-overlapping in BOTH engines, and a
# single pass misses an occurrence whose leading delimiter was
# consumed by the immediately preceding match; after one pass no two
# unmerged occurrences are adjacent, so the second pass completes the
# maximal disjoint matching. This equals greedy BPE everywhere except
# inside odd-length runs of a SELF-pair rule like (a,a), where the
# second pass merges right-anchored instead of left — a documented,
# deterministic deviation identical in both engines.
#
# 100 TB shape per round: one map-side-combinable pair count (the
# bpe_pair_counts aggregation), one O(1) driver scalar (the adopted
# rule — this is model state, not data), one map-side rewrite. k
# rounds = k such passes; the corpus never joins itself.

BPE_D = "\x01"  # token delimiter: never appears in whitespace-split tokens


def bpe_learn_merges(docs: DataFrame, n_merges: int = 3, text_col: str = "text") -> DataFrame:
    """(rank, pair, n): the first n_merges BPE merge rules learned
    greedily over the corpus (count DESC, pair ASC tie-break), each
    with its count at adoption time. The batched learner at one rule
    per round: each round adopts the round's top pair, exactly the
    serial greedy step."""
    return bpe_learn_merges_batched(docs, n_merges, 1, text_col).select("rank", "pair", "n")


BPE_CAND_CAP = 512  # per-round candidate window both engines rank over


def bpe_learn_merges_batched(
    docs: DataFrame,
    n_merges: int = 64,
    k_per_round: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """(rank, pair, n): batched-greedy BPE — the standard parallel-BPE
    trick that makes realistic rule counts tractable. The serial loop
    (k_per_round=1, bpe_learn_merges) pays one full pair-count + one
    driver round-trip PER RULE; at production merge counts (30k) that
    round structure is the bottleneck, not the counting. Here each round counts once and
    adopts up to k_per_round TOKEN-DISJOINT rules from one snapshot:
    rules sharing no token (and no rule's output colliding with
    another's input) have count-invariant applications, so the adopted
    counts are exact and application order within a round cannot
    change the result.

    Determinism spec (both engines implement it exactly): per round,
    rank pairs by (n DESC, a ASC, b ASC); walk the top BPE_CAND_CAP in
    rank order adopting a candidate iff its a, b AND merged output
    'a b' are all absent from the round's used-token set; stop at the
    round's POSITIONAL cap min(k_per_round, n_merges - (r-1)*k) —
    slots a short round forfeits are NOT rolled over (so total rules
    can be < n_merges); apply adopted rules in adoption
    order (double-replace for self-overlap); rounds are fixed at
    ceil(n_merges / k_per_round) so both engines run the same shape
    even when a round adopts fewer than k rules.

    Scale: rounds are O(n_merges / k) Spark jobs; per round one
    map-side pair explode + count shuffle and ONE bounded driver
    collect (BPE_CAND_CAP rows). The replace-fold is a single
    projection pass over the corpus per round, all JVM-side."""
    spark = docs.sparkSession
    d = BPE_D
    # strip the delimiter char from the corpus FIRST (both engines): a
    # token containing \\x01 would otherwise read as a spurious token
    # boundary in the delimited string, and merge rules would be
    # learned over tokens that don't exist in the corpus
    clean = F.expr(f"translate({text_col}, chr(1), '')")
    # widen BEFORE the tokenize and the checkpoint (r14): the corpus-
    # string table descends from a single-split scan, so the initial
    # tokenize AND every round's pair explode+count AND every
    # replace-fold ran as ONE task. Widening the raw text first spreads
    # the build, and all n_rounds of count + replace-fold inherit the
    # width from the checkpointed blocks.
    from databus_spark.plans.hints import widen_scan

    s = (
        widen_scan(docs.select(F.col(text_col)))
        .select(
            F.concat(
                F.lit(d), F.array_join(tokens_col(clean), d), F.lit(d)
            ).alias("s")
        )
        .localCheckpoint(eager=False)
    )

    n_rounds = -(-n_merges // k_per_round)
    rules: list[tuple[int, str, int]] = []
    rule_sides: list[tuple[str, str]] = []
    for _round in range(n_rounds):
        # POSITIONAL cap (round r may adopt at most its k_per_round slot
        # of n_merges), NOT n_merges - len(rules): when a round adopts
        # fewer than k rules the leftover slots are forfeited, exactly
        # as the SQL twin computes min(k, n_merges - (r-1)*k) — keying
        # on len(rules) here made the engines diverge for any
        # parameterization where a round came up short.
        k_round = min(k_per_round, n_merges - _round * k_per_round)
        if k_round <= 0:
            break
        toks = F.expr(f"split(substring(s, 2, length(s) - 2), '{d}')")
        # rules are (a, b) STRUCTS, never a joined display string: after
        # round 1 a merged token itself contains a space, so splitting a
        # "a b c" pair string back into its two sides is ambiguous
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        cand = (
            s.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(BPE_CAND_CAP)
            .collect()
        )
        if not cand:
            break
        used: set[str] = set()
        adopted: list[tuple[str, str, int]] = []
        for row in cand:
            if len(adopted) >= k_round:
                break
            a, b, n = row["a"], row["b"], int(row["n"])
            merged = a + " " + b
            if a in used or b in used or merged in used:
                continue
            used.update((a, b, merged))
            adopted.append((a, b, n))
        expr = F.col("s")
        for a, b, n in adopted:
            rules.append((len(rules) + 1, a + " " + b, n))
            rule_sides.append((a, b))
            pat, rep = F.lit(d + a + d + b + d), F.lit(d + a + " " + b + d)
            expr = F.replace(F.replace(expr, pat, rep), pat, rep)
        s = s.select(expr.alias("s")).localCheckpoint(eager=False)

    if not rules:
        return spark.sql(
            "SELECT CAST(1 AS INT) AS rank, '' AS pair,"
            " CAST(0 AS BIGINT) AS n WHERE false"
        )

    def _sql_str(p: str) -> str:
        # Spark parses string literals with backslash escapes
        # (escapedStringLiterals=false): a corpus token containing a
        # backslash must be doubled BEFORE quote-doubling, or '\t'
        # silently becomes a TAB and a trailing '\' escapes the quote
        return p.replace("\\", "\\\\").replace("'", "''")

    # LocalRelation, not createDataFrame-from-rows (no Python RDD)
    rows_sql = ", ".join(
        "({}, '{}', {}, '{}', '{}')".format(
            r, _sql_str(p), n, _sql_str(a), _sql_str(b)
        )
        for (r, p, n), (a, b) in zip(rules, rule_sides)
    )
    return spark.sql(
        f"SELECT CAST(col1 AS INT) AS rank, col2 AS pair,"
        f" CAST(col3 AS BIGINT) AS n, col4 AS a, col5 AS b"
        f" FROM (VALUES {rows_sql})"
    )


def bpe_encode(
    docs: DataFrame,
    n_merges: int = 64,
    k_per_round: int = 16,
    text_col: str = "text",
    rules: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, enc_md5): the tokenizer APPLY stage — encode
    every document with the rules bpe_learn_merges_batched learns,
    completing the train->tokenize loop. Rules are applied in rank
    order as the learner's exact double-replace spec (rank order over
    the raw corpus == the learner's round-interleaved application,
    because each round's rules are token-disjoint and later rounds'
    inputs only exist after earlier rounds' rewrites). enc_md5 hashes
    the full sentinel-delimited encoded string, so the oracle pins the
    ENTIRE token sequence per document, not just counts.

    Scale: the 64-rule fold is one JVM projection (128 nested
    replaces) over the corpus — no shuffle at all; the only driver
    data is the 64-row rule table the learner already materializes."""
    d = BPE_D
    rules_df = (
        rules
        if rules is not None
        else bpe_encode_rules(docs, n_merges, k_per_round, text_col)
    )
    from databus_spark.plans.hints import widen_scan

    rule_rows = [(r["rank"], r["a"], r["b"]) for r in rules_df.collect()]
    clean = F.expr(f"translate({text_col}, chr(1), '')")
    enc = F.concat(F.lit(d), F.array_join(tokens_col(clean), d), F.lit(d))
    for _rank, a, b in sorted(rule_rows):
        pat, rep = F.lit(d + a + d + b + d), F.lit(d + a + " " + b + d)
        enc = F.replace(F.replace(enc, pat, rep), pat, rep)
    # the 128-nested-replace APPLY projection is pure per-row CPU and
    # ran on the single-split scan's one task (r14: two 1-task ~0.9
    # CPU-s stages); the learner's corpus table is widened separately
    docs = widen_scan(docs)
    return docs.select(
        "doc_id", enc.alias("_enc")
    ).select(
        "doc_id",
        F.size(F.split(F.expr("substring(_enc, 2, length(_enc) - 2)"), d)).cast(
            "long"
        ).alias("n_tokens"),
        F.md5(F.col("_enc").cast("binary")).alias("enc_md5"),
    )


def bpe_encode_rules(
    docs: DataFrame,
    n_merges: int = 64,
    k_per_round: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """The learned rule table with both sides exposed (rank, a, b) —
    what apply needs; `pair` is ambiguous once tokens themselves
    contain spaces (multi-level merges)."""
    return bpe_learn_merges_batched(docs, n_merges, k_per_round, text_col).select(
        "rank", "a", "b"
    )


def bpe_encode_sql(
    from_sql: str, n_merges: int = 64, k_per_round: int = 16
) -> str:
    """DuckDB twin of bpe_encode: re-derives the rule rounds with the
    SAME CTE structure as bpe_learn_merges_batched_sql, then applies
    every round INCLUDING the last to a doc_id-carrying corpus and
    emits (doc_id, n_tokens, enc_md5). The application expression per
    round is the identical nested double-replace fold."""
    toks = TOKENS_SQL.format(col="replace(text, chr(1), '')")
    d = "chr(1)"
    n_rounds = -(-n_merges // k_per_round)
    # rule derivation reuses the learn generator's CTE chain verbatim
    # (same CTE names, same recursion); corpus application is
    # re-threaded with doc_id in the e{r} chain below so the per-doc
    # result survives.
    ctes = [
        f"e1 AS MATERIALIZED (SELECT doc_id,"
        f" {d} || array_to_string({toks}, {d}) || {d} AS s FROM ({from_sql}))"
    ]
    for r in range(1, n_rounds + 1):
        k_round = min(k_per_round, n_merges - (r - 1) * k_per_round)
        expr = "s"
        for k in range(1, k_round + 1):
            a_k = f"(SELECT a FROM s{r} WHERE adopt_rank = {k})"
            b_k = f"(SELECT b FROM s{r} WHERE adopt_rank = {k})"
            pat = f"coalesce({d} || {a_k} || {d} || {b_k} || {d}, chr(0))"
            rep = f"coalesce({d} || {a_k} || ' ' || {b_k} || {d}, chr(0))"
            expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT doc_id, {expr} AS s FROM e{r})"
        )
    final = (
        f"SELECT doc_id,"
        f" CAST(len(string_split(s[2:length(s) - 1], {d})) AS BIGINT)"
        f" AS n_tokens, md5(s) AS enc_md5 FROM e{n_rounds + 1}"
    )
    # learn's WITH-clause CTEs (t/p/c/s chains) + our e chain share one
    # WITH; learn CTE names (t,p,c,s,g) never collide with e{r}. The
    # CTE list comes back STRUCTURALLY from the shared generator — no
    # textual split of the rendered SQL to drift out of sync with it.
    learn_ctes, _ = _bpe_batched_parts(from_sql, n_merges, k_per_round)
    return "WITH " + ", ".join(learn_ctes + ctes) + " " + final


def bpe_learn_merges_batched_sql(
    from_sql: str, n_merges: int = 64, k_per_round: int = 16
) -> str:
    """DuckDB twin of the batched-greedy spec: per round, a recursive
    CTE walks the ranked candidate window carrying the used-token list
    (greedy disjoint selection is inherently sequential — the recursion
    IS the walk), and a second recursive CTE folds the adopted
    replaces over the corpus in adoption order."""
    ctes, selects = _bpe_batched_parts(from_sql, n_merges, k_per_round)
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def _bpe_batched_parts(
    from_sql: str, n_merges: int, k_per_round: int
) -> tuple[list[str], list[str]]:
    """The batched-greedy learn SQL as STRUCTURED parts: the CTE chain
    (t/p/c/s per round) and the per-round rank selects. bpe_encode_sql
    grafts the CTE list into its own WITH clause, so the shape is
    shared by construction instead of by splitting rendered SQL."""
    toks = TOKENS_SQL.format(col="replace(text, chr(1), '')")
    d = "chr(1)"
    n_rounds = -(-n_merges // k_per_round)
    ctes = [
        f"t1 AS MATERIALIZED (SELECT {d} || array_to_string({toks}, {d}) || {d} AS s"
        f" FROM ({from_sql}))"
    ]
    selects = []
    for r in range(1, n_rounds + 1):
        k_round = min(k_per_round, n_merges - (r - 1) * k_per_round)
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT p.a AS a, p.b AS b, count(*) AS n FROM ("
            f"SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),"
            f" i -> {{'a': tk[i], 'b': tk[i + 1]}})) AS p FROM ("
            f"SELECT string_split(s[2:length(s) - 1], {d}) AS tk FROM t{r})"
            f") GROUP BY 1, 2)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT a, b, n, row_number() OVER"
            f" (ORDER BY n DESC, a ASC, b ASC) AS rn FROM p{r}"
            f" QUALIFY rn <= {BPE_CAND_CAP})"
        )
        # the inner recursive walk MUST have a per-round name: two CTEs
        # both defining an inner `WITH RECURSIVE g` collide when DuckDB
        # inlines them into one query tree (round 2's walk silently
        # resumed round 1's accumulated used-token state)
        g = f"g{r}"
        ok = (
            f"({g}.k < {k_round}"
            f" AND NOT list_contains({g}.used, c.a)"
            f" AND NOT list_contains({g}.used, c.b)"
            f" AND NOT list_contains({g}.used, c.a || ' ' || c.b))"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (WITH RECURSIVE {g} AS ("
            f"SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used, 0 AS k,"
            f" CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,"
            f" CAST(NULL AS BIGINT) AS n"
            f" UNION ALL SELECT c.rn,"
            f" CASE WHEN {ok} THEN list_concat({g}.used,"
            f" [c.a, c.b, c.a || ' ' || c.b]) ELSE {g}.used END,"
            f" CASE WHEN {ok} THEN {g}.k + 1 ELSE {g}.k END,"
            f" CASE WHEN {ok} THEN c.a END,"
            f" CASE WHEN {ok} THEN c.b END,"
            f" CASE WHEN {ok} THEN c.n END"
            f" FROM {g} JOIN c{r} c ON c.rn = {g}.rn + 1)"
            f" SELECT k AS adopt_rank, a, b, n FROM {g} WHERE a IS NOT NULL)"
        )
        if r < n_rounds:
            # apply adopted rules as ONE projection of nested replaces
            # (adoption order innermost-first, exactly the Spark fold).
            # Scalar subqueries inline each rank's rule; coalesce to a
            # never-matching chr(0) pattern when a rank wasn't adopted.
            # NOT a recursive CTE over the corpus: nesting a recursion
            # that reads s{r} (itself recursive) inside another
            # recursive CTE silently evaluates s{r} empty in DuckDB,
            # leaving the corpus unrewritten (caught by the round-2
            # candidate counts repeating round 1's).
            expr = "s"
            for k in range(1, k_round + 1):
                a_k = f"(SELECT a FROM s{r} WHERE adopt_rank = {k})"
                b_k = f"(SELECT b FROM s{r} WHERE adopt_rank = {k})"
                pat = f"coalesce({d} || {a_k} || {d} || {b_k} || {d}, chr(0))"
                rep = (
                    f"coalesce({d} || {a_k} || ' ' || {b_k} || {d}, chr(0))"
                )
                expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
            ctes.append(f"t{r + 1} AS MATERIALIZED (SELECT {expr} AS s FROM t{r})")
        offset = " + ".join(
            [f"(SELECT count(*) FROM s{j})" for j in range(1, r)] or ["0"]
        )
        selects.append(
            f"SELECT CAST({offset} + adopt_rank AS INT) AS rank,"
            f" a || ' ' || b AS pair, CAST(n AS BIGINT) AS n FROM s{r}"
        )
    return ctes, selects


def bpe_learn_merges_sql(from_sql: str, n_merges: int = 3) -> str:
    """Unrolled k-round DuckDB twin: each round's corpus is the
    previous round's after replace()-applying the previous rule."""
    # mirror the Spark side's delimiter strip (translate)
    toks = TOKENS_SQL.format(col="replace(text, chr(1), '')")
    d = "chr(1)"
    ctes = [
        f"t1 AS (SELECT {d} || array_to_string({toks}, {d}) || {d} AS s"
        f" FROM ({from_sql}))"
    ]
    selects = []
    for r in range(1, n_merges + 1):
        # (a, b) kept as separate columns — see the Spark twin for why a
        # joined pair string cannot be decomposed after round 1
        ctes.append(
            f"p{r} AS (SELECT p.a AS a, p.b AS b, count(*) AS n FROM ("
            f"SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),"
            f" i -> {{'a': tk[i], 'b': tk[i + 1]}})) AS p FROM ("
            f"SELECT string_split(s[2:length(s) - 1], {d}) AS tk FROM t{r})"
            f") GROUP BY 1, 2)"
        )
        ctes.append(
            f"r{r} AS (SELECT a, b, n FROM p{r}"
            f" ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
        )
        if r < n_merges:
            pat = (
                f"{d} || (SELECT a FROM r{r}) || {d}"
                f" || (SELECT b FROM r{r}) || {d}"
            )
            rep = (
                f"{d} || (SELECT a FROM r{r}) || ' '"
                f" || (SELECT b FROM r{r}) || {d}"
            )
            ctes.append(
                f"t{r + 1} AS (SELECT replace(replace(s, {pat}, {rep}),"
                f" {pat}, {rep}) AS s FROM t{r})"
            )
        selects.append(
            f"SELECT CAST({r} AS INT) AS rank, a || ' ' || b AS pair,"
            f" CAST(n AS BIGINT) AS n FROM r{r}"
        )
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# Document structure profile (layout-level curation signals)
# ---------------------------------------------------------------------------
# Length/token stats say nothing about SHAPE: a wall of unbroken text,
# a bullet-list dump, and well-paragraphed prose all score the same.
# These are the standard layout signals (line/paragraph counts, mean
# line length, bullet and short-line ratios) used to separate prose
# from navigation dumps and code listings. Pure per-row split/filter
# expressions — zero shuffle, exact DuckDB twins.

def structure_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_lines, n_paras, mean_line_len, bullet_ratio,
    short_line_ratio): newline-structure features per document."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    non_empty = F.filter(lines, lambda ln: F.trim(ln) != "")
    n_paras = F.size(F.filter(F.split(F.col(text_col), "\n\n+"), lambda p: F.trim(p) != ""))
    bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike("^([-*•]|[0-9]+[.)])\\s"))
    )
    short = F.size(F.filter(lines, lambda ln: (F.length(F.trim(ln)) > 0) & (F.length(F.trim(ln)) < 20)))
    sum_len = F.aggregate(
        non_empty, F.lit(0).cast("long"), lambda a, ln: a + F.length(ln)
    )
    # Integer-ratio outputs use the micro-unit floor-division pattern
    # (bigint (num*10^4) div den, then ONE IEEE divide) instead of
    # round(double, 4): Spark rounds the binary double via BigDecimal
    # HALF_UP while DuckDB rounds the scaled float, so near-boundary
    # quotients (e.g. 9/160 = 0.05625) hash-mismatch data-dependently.
    base = docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_paras.alias("n_paras"),
        F.size(non_empty).alias("_ne"),
        sum_len.alias("_sumlen"),
        bullet.cast("long").alias("_bullet"),
        short.cast("long").alias("_short"),
    )
    return base.select(
        "doc_id",
        "n_lines",
        "n_paras",
        F.expr(
            "CASE WHEN _ne > 0 THEN"
            " cast((_sumlen * 10000L) div _ne as double) / 10000.0 END"
        ).alias("mean_line_len"),
        F.expr(
            "cast((_bullet * 10000L) div greatest(cast(n_lines as long), 1L)"
            " as double) / 10000.0"
        ).alias("bullet_ratio"),
        F.expr(
            "cast((_short * 10000L) div greatest(cast(n_lines as long), 1L)"
            " as double) / 10000.0"
        ).alias("short_line_ratio"),
    )


def structure_profile_sql(from_sql: str) -> str:
    lines = "string_split(text, chr(10))"
    nonempty = f"list_filter({lines}, ln -> trim(ln) <> '')"
    return f"""
        SELECT doc_id,
               len({lines}) AS n_lines,
               len(list_filter(regexp_split_to_array(text, '\n\n+'),
                               p -> trim(p) <> '')) AS n_paras,
               -- micro-unit floor division (see the Spark twin): bigint
               -- (num*10^4) // den then ONE IEEE divide — round(double,4)
               -- of an integer ratio diverges cross-engine near .5 ulps
               CASE WHEN len({nonempty}) > 0 THEN
                   CAST((CAST(list_sum(list_transform({nonempty},
                             ln -> length(ln))) AS BIGINT) * 10000)
                        // len({nonempty}) AS DOUBLE) / 10000.0
               END AS mean_line_len,
               CAST((CAST(len(list_filter({lines},
                   ln -> regexp_matches(trim(ln), '^([-*•]|[0-9]+[.)])\\s')))
                   AS BIGINT) * 10000)
                   // greatest(len({lines}), 1) AS DOUBLE) / 10000.0
                   AS bullet_ratio,
               CAST((CAST(len(list_filter({lines},
                   ln -> length(trim(ln)) > 0 AND length(trim(ln)) < 20))
                   AS BIGINT) * 10000)
                   // greatest(len({lines}), 1) AS DOUBLE) / 10000.0
                   AS short_line_ratio
        FROM ({from_sql})
    """


# ---------------------------------------------------------------------------
# Interpolated bigram LM quality score (the unigram filter's upgrade)
# ---------------------------------------------------------------------------
# lm_quality_score ranks documents by unigram surprisal — blind to word
# ORDER ("the the the the" scores as well as prose). The standard cheap
# upgrade is an interpolated bigram model: p(w|v) = L*p2(w|v) +
# (1-L)*p1(w), which penalizes improbable transitions while unigram
# smoothing keeps unseen bigrams finite. Same determinism engineering
# as the unigram scorer: every per-token NLL rounds to 6dp and sums as
# DECIMAL; the probability arithmetic is one fixed IEEE expression both
# engines evaluate identically.
#
# 100 TB shape: two count aggregations (unigrams; adjacent pairs — the
# bpe_pair_counts stream) and two token-keyed equi-joins. First tokens
# score by p1 alone, later tokens by the interpolation.

LM2_LAMBDA = 0.7


def lm2_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, avg_nll2): mean interpolated-bigram NLL."""
    from databus_spark.plans.hints import widen_scan

    toks_arr = tokens_col(text_col)
    # widen BEFORE the shared tokenize checkpoint so the explode /
    # bigram-zip consumers inherit width from the materialized blocks
    # (r14: the tokenize + both explode map sides ran 1-task)
    base = (
        widen_scan(docs)
        .select("doc_id", toks_arr.alias("_t"))
        .localCheckpoint(eager=False)
    )

    unis = base.select("doc_id", F.explode("_t").alias("w"))
    tf = unis.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n_total"))
    tf = tf.crossJoin(F.broadcast(total))

    pair_arr = F.zip_with(
        F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))),
        F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))),
        lambda v, w: F.struct(v.alias("v"), w.alias("w")),
    )
    pairs = base.select("doc_id", F.explode(pair_arr).alias("p")).select(
        "doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w")
    )
    tf2 = pairs.groupBy("v", "w").agg(F.count(F.lit(1)).alias("tf2"))

    lam = F.lit(LM2_LAMBDA)
    p_interp = (
        lam * (F.col("tf2") / F.col("tf_v"))
        + (F.lit(1.0) - lam) * (F.col("tf_w") / F.col("n_total"))
    )
    # bigram table: DATA-SIZED at scale (distinct bigrams grow with the
    # corpus) — pin sort-merge so a bad static estimate can't broadcast
    # either side; the unigram table is *usually* vocabulary-bounded but
    # grows with token-diverse corpora, so ONE measurement (rides the
    # checkpoint job) decides all three of its join hints (same hazard
    # class as lm_quality_score's 3.1 GB corpus-broadcast).
    from databus_spark.plans.hints import measure_under_cap

    tf, _tf_fits = measure_under_cap(tf, LM_BROADCAST_VOCAB_CAP)
    _v = F.broadcast if _tf_fits else lambda d: d.hint("merge")
    pair_nll = (
        pairs.hint("merge").join(tf2, ["v", "w"])
        .join(_v(tf.select(F.col("w").alias("v"), F.col("tf").alias("tf_v"))), "v")
        .join(_v(tf.select("w", F.col("tf").alias("tf_w"), "n_total")), "w")
        .select(
            "doc_id",
            F.round(-F.log(p_interp), 6).cast("decimal(18,6)").alias("nll"),
        )
    )
    first_nll = (
        base.select("doc_id", F.element_at("_t", 1).alias("w"))
        .where(F.col("w").isNotNull())
        .join(_v(tf.select("w", "tf", "n_total")), "w")
        .select(
            "doc_id",
            F.round(-F.log(F.col("tf") / F.col("n_total")), 6)
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    return (
        first_nll.unionByName(pair_nll)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # the novelty-ratio pattern: the decimal sum is integral in
            # micro-units (scale 6), so truncated-6dp mean = exact bigint
            # floor-division then ONE IEEE divide — round(double, 6)
            # diverges across engines on near-boundary quotients (the
            # r5 text_novelty bug class; this query HIT it at sf0.001)
            F.expr(
                "cast(cast(sum(nll) * 1000000 as bigint) div count(1) as double)"
                " / 1000000.0"
            ).alias("avg_nll2"),
        )
    )


def lm2_quality_score_sql(from_sql: str) -> str:
    toks = TOKENS_SQL.format(col="text")
    lam = LM2_LAMBDA
    return f"""
        WITH base AS (SELECT doc_id, {toks} AS t FROM ({from_sql})),
        unis AS (SELECT doc_id, unnest(t) AS w FROM base),
        tf AS (SELECT w, count(*) AS tf FROM unis GROUP BY 1),
        total AS (SELECT sum(tf) AS n_total FROM tf),
        pairs AS (
            SELECT doc_id, t[i] AS v, t[i + 1] AS w
            FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
                  FROM base)
        ),
        tf2 AS (SELECT v, w, count(*) AS tf2 FROM pairs GROUP BY 1, 2),
        pair_nll AS (
            SELECT doc_id,
                   CAST(round(-ln({lam} * (CAST(tf2 AS DOUBLE) / tv.tf)
                              + {1.0 - lam} * (CAST(tw.tf AS DOUBLE) / n_total)), 6)
                        AS DECIMAL(18,6)) AS nll
            FROM pairs
            JOIN tf2 USING (v, w)
            JOIN tf tv ON tv.w = pairs.v
            JOIN tf tw ON tw.w = pairs.w
            CROSS JOIN total
        ),
        first_nll AS (
            SELECT doc_id,
                   CAST(round(-ln(CAST(tf AS DOUBLE) / n_total), 6)
                        AS DECIMAL(18,6)) AS nll
            FROM (SELECT doc_id, t[1] AS w FROM base WHERE len(t) >= 1)
            JOIN tf USING (w)
            CROSS JOIN total
        )
        SELECT doc_id, count(*) AS n_tokens,
               CAST(CAST(sum(nll) * 1000000 AS BIGINT) // count(*) AS DOUBLE)
                   / 1000000.0 AS avg_nll2
        FROM (SELECT * FROM first_nll UNION ALL SELECT * FROM pair_nll)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Boilerplate line stripping (CCNet-style corpus-level line dedup)
# ---------------------------------------------------------------------------
# Web corpora carry navigation menus, cookie banners, and copyright
# footers repeated across thousands of pages of the same site — noise
# that survives document-level dedup because the BODY differs. The
# CCNet recipe: hash every (whitespace-normalized) line, count how many
# DISTINCT documents each line appears in, and strip lines above a
# document-frequency threshold, preserving the order of what remains.
#
# 100 TB shape: one posexplode (map-side), ONE shuffle for the
# line-df aggregation, and the boilerplate set — tiny by definition
# (only lines repeated across >= min_docs documents) — broadcasts back
# for a map-side mark; reassembly is a per-document sort of its own
# surviving lines. No join ever carries the corpus against itself.

BOILER_MIN_DOCS = 30
# Broadcast safety valve (the MAX_BAND_DOCS pattern): the boiler set is
# tiny in healthy corpora, but a pathological corpus of near-identical
# pages could push "every line repeated everywhere" past broadcast
# limits — cap at the top-K most-repeated lines (df DESC, line ASC
# tie-break so the cap itself is deterministic). Far above any test-SF
# population; results unchanged until degeneracy.
BOILER_MAX_LINES = 100_000


def boilerplate_strip(
    docs: DataFrame, text_col: str = "text", min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """(doc_id, n_lines, n_boiler, n_kept_chars, kept_md5): strip lines
    whose trim-normalized form appears in >= min_docs distinct
    documents; kept_md5 fingerprints the reassembled (order-preserved)
    residual text. Empty lines are never boilerplate (they are
    document structure, not content)."""
    lines = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line")
    ).withColumn("_n", F.trim("line"))
    boiler = (
        lines.where(F.col("_n") != "")
        .groupBy("_n")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .where(F.col("_df") >= min_docs)
        .orderBy(F.desc("_df"), F.asc("_n"))
        .limit(BOILER_MAX_LINES)
        .select("_n", F.lit(True).alias("_b"))
    )
    marked = lines.join(F.broadcast(boiler), "_n", "left")
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).cast("long").alias("n_boiler"),
        # collect_list drops NULLs, so boiler lines vanish here; the
        # (idx, line) struct sort restores original document order
        F.array_sort(
            F.collect_list(F.when(F.col("_b").isNull(), F.struct("idx", "line")))
        ).alias("_kept"),
    )
    kept_text = F.array_join(F.transform("_kept", lambda s: s["line"]), "\n")
    return agg.select(
        "doc_id",
        "n_lines",
        "n_boiler",
        F.length(kept_text).cast("long").alias("n_kept_chars"),
        F.md5(kept_text).alias("kept_md5"),
    )


def boilerplate_strip_sql(from_sql: str, min_docs: int = BOILER_MIN_DOCS) -> str:
    return f"""
        WITH lines AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, chr(10)), 1) AS idx,
                   unnest(string_split(text, chr(10))) AS line
            FROM ({from_sql})
        ),
        norm AS (SELECT doc_id, idx, line, trim(line) AS n FROM lines),
        boiler AS (
            SELECT n FROM (
                SELECT n, count(DISTINCT doc_id) AS df FROM norm
                WHERE n <> '' GROUP BY n
                HAVING count(DISTINCT doc_id) >= {min_docs}
            ) ORDER BY df DESC, n ASC LIMIT {BOILER_MAX_LINES}
        ),
        marked AS (
            SELECT norm.doc_id, norm.idx, norm.line,
                   b.n IS NOT NULL AS is_b
            FROM norm LEFT JOIN boiler b ON norm.n = b.n
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
               CAST(length(coalesce(
                   string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT is_b),
                   ''))
                   AS BIGINT) AS n_kept_chars,
               md5(coalesce(
                   string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT is_b),
                   '')) AS kept_md5
        FROM marked
        GROUP BY 1
    """




# ---------------------------------------------------------------------------
# BM25 lexical retrieval (Robertson/Sparck Jones; the Lucene idf form)
# ---------------------------------------------------------------------------
# The lexical sibling of the ANN family: training-data pipelines retrieve
# by keyword as often as by embedding (benchmark decontamination by
# retrieval, targeted corpus slicing, dedup triage).
#
# One pipeline serves every BM25 row. House convention (LSH band index,
# SemDeDup cell index, linkage block index): the expensive corpus-wide
# artifact is built ONCE at ingest and every query batch / corpus delta
# serves against it. For BM25 the artifact is the INVERTED INDEX —
# per-(token, doc) term frequencies with the doc length riding each
# posting — plus the two corpus scalars (doc count, total token count).
# Everything BM25 needs is additive across corpus slices: tf rows just
# union, per-term df is a count over the unioned postings, and avgdl
# recomputes from summed scalars — so bm25_serve over a staged base ∪
# an unindexed delta is EXACT, not an approximation, and the inline
# bm25_topk is that same serve with no staged base and the whole corpus
# as the delta (the bm25_incremental oracle is the from-scratch rebuild
# and hash-checks the claim).
#
# Scale shape: the query-term set is tiny and rides the one eager
# checkpoint of the query workload (an Observation), so every corpus-
# side explode prunes MAP-SIDE to query tokens before any shuffle. The
# staged postings are PARTITIONED by a crc32 token bucket: a query batch
# lists only its vocabulary's bucket directories (partition pruning at
# the file listing — the scan never touches the other ~98% of the
# index). The bucket column is engine-internal (never in oracle output),
# so its hash needs no cross-engine twin. The final top-k window runs
# per query over candidate docs only.
#
# Determinism discipline: every per-term weight rounds to 6dp and sums
# as DECIMAL (order-independent, bit-identical across engines); avgdl is
# the exact bigint micro-unit floor-division; ranking breaks score ties
# by doc_id.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 10
BM25_QUERY_LEN = 3
BM25_TOPK = 5
BM25_BUCKETS = 64
_BM25_PARTS = ("postings", "stats", "queries")


def _bm25_bucket() -> Column:
    return (F.crc32(F.col("tok")) % BM25_BUCKETS).cast("int")


def _bm25_tf(docs: DataFrame, text_col: str, terms: list | None = None) -> DataFrame:
    """(tok, doc_id, tf, dl): per-(doc, token) term frequencies, the doc
    length riding each row. With ``terms`` the explode is pruned
    map-side to those tokens, so the tf aggregate is the only shuffle
    and it carries query-token rows only."""
    rows = docs.select("doc_id", tokens_col(text_col).alias("_t")).select(
        "doc_id", F.size("_t").alias("dl"), F.explode("_t").alias("tok")
    )
    if terms is not None:
        rows = rows.where(F.col("tok").isin(terms))
    return (
        rows.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .select("tok", "doc_id", "tf", "dl")
    )


def bm25_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, bkt, doc_id, tf, dl): the full inverted index of a corpus.
    One explode + one (doc, tok) count agg — map-side combinable, paid
    once at ingest."""
    from databus_spark.plans.hints import widen_scan

    # tokenize+explode map side ran on the single-split scan's one task
    # (r14: hybrid_rrf_topk's 1-task 1.1 CPU-s stage); the agg partials
    # are plain counts, so the widen trade wins (unlike approx_stats)
    return _bm25_tf(widen_scan(docs), text_col).select(
        "tok", _bm25_bucket().alias("bkt"), "doc_id", "tf", "dl"
    )


def bm25_corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row (n_docs, total_len) — the additive corpus scalars."""
    from databus_spark.plans.hints import widen_scan

    # the full-corpus tokenize feeding the two scalars is per-row CPU on
    # the scan task (widen BEFORE the projection or the tokenize stays
    # fused on the 1-task scan); count/sum partials are free to widen
    return (
        widen_scan(docs.select(text_col))
        .select(F.size(tokens_col(text_col)).alias("_dl"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_dl").alias("total_len"))
    )


def bm25_query_terms(
    docs: DataFrame,
    n_queries: int = BM25_N_QUERIES,
    q_len: int = BM25_QUERY_LEN,
    text_col: str = "text",
) -> DataFrame:
    """(query_id, tok): the deterministic fixture query workload.
    Queries are derived from the corpus itself (the fixture has no
    separate query table): the ``n_queries`` docs with the lowest seeded
    hash contribute tokens 2..q_len+1 as a query, keyed by the source
    doc_id — the same hash-sample convention the ANN rows use for their
    query vectors."""
    toks = tokens_col(text_col)
    base = docs.select("doc_id", toks.alias("_t"))
    h = portable_hash64(F.col("doc_id").cast("string"), F.lit("bm25"))
    return (
        base.where(F.size("_t") >= q_len + 1)
        .orderBy(h.asc(), F.col("doc_id").asc())
        .limit(n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("_t", 2, q_len)).alias("tok"),
        )
        .distinct()
    )


def bm25_index_build(docs: DataFrame, index_dir: str, text_col: str = "text") -> None:
    """Write the staged BM25 index of ``docs`` under the local directory
    ``index_dir``: postings/ partitioned by token bucket, stats/ (the
    corpus scalars) and queries/ (the fixture query workload), plus each
    part's read schema in _SCHEMA so bm25_index_read runs no
    schema-inference job. The one writer of the layout bm25_index_read
    reads."""
    import json
    import os

    spark = docs.sparkSession
    bm25_postings(docs, text_col).write.partitionBy("bkt").parquet(
        os.path.join(index_dir, "postings")
    )
    bm25_corpus_stats(docs, text_col).write.parquet(os.path.join(index_dir, "stats"))
    bm25_query_terms(docs, text_col=text_col).write.parquet(
        os.path.join(index_dir, "queries")
    )
    schemas = {
        p: spark.read.parquet(os.path.join(index_dir, p)).schema.jsonValue()
        for p in _BM25_PARTS
    }
    with open(os.path.join(index_dir, "_SCHEMA"), "w") as f:
        json.dump(schemas, f)


def bm25_index_read(spark, index_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, stats, queries) of a bm25_index_build directory, each
    read under its recorded schema: building the frames runs no Spark
    job beyond the postings directory listing."""
    import json
    import os

    from pyspark.sql.types import StructType

    with open(os.path.join(index_dir, "_SCHEMA")) as f:
        schemas = json.load(f)
    return tuple(
        spark.read.schema(StructType.fromJson(schemas[p])).parquet(
            os.path.join(index_dir, p)
        )
        for p in _BM25_PARTS
    )


def _bm25_query_set(qtoks: DataFrame) -> tuple[DataFrame, list, list]:
    """Checkpoint the (query_id, tok) workload ONCE, eagerly, and read
    its distinct tokens and their buckets off the same job (an
    Observation): the returned frame feeds the scoring join, the two
    lists prune the corpus side, and an inline query frame is never
    evaluated twice. Both lists are bounded by the query vocabulary."""
    from pyspark.sql import Observation

    obs = Observation()
    qt = qtoks.observe(
        obs,
        F.collect_set("tok").alias("terms"),
        F.collect_set(_bm25_bucket()).alias("bkts"),
    ).localCheckpoint(eager=True)
    got = obs.get
    return qt, sorted(got["terms"]), sorted(got["bkts"])


def _bm25_ranked(
    hits: DataFrame, stats: DataFrame, qt: DataFrame, topk: int, k1: float, b: float
) -> DataFrame:
    """The scoring/rank tail every BM25 row shares: (tok, doc_id, tf,
    dl) candidate postings + one (n_docs, total_len) row + the
    checkpointed (query_id, tok) workload -> (query_id, doc_id, rank,
    score)."""
    from pyspark.sql.window import Window

    st = stats.select(
        "n_docs",
        # exact micro-unit mean doc length, then ONE IEEE divide
        (F.expr("total_len * 1000000 div n_docs").cast("double") / 1000000.0).alias(
            "avgdl"
        ),
    )
    hits = hits.localCheckpoint(eager=False)  # feeds df AND the scoring join
    df_t = hits.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = (
        idf
        * (F.col("tf") * F.lit(1.0 + k1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    terms = (
        hits.join(F.broadcast(qt), "tok")
        .join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(st))
        .select(
            "query_id",
            "doc_id",
            F.round(w, 6).cast("decimal(18,6)").alias("w"),
        )
    )
    # keyed repartition replacing the agg's ENSURE exchange (the house
    # AQE escape, r15 sweep flag): terms is byte-small (two ids + one
    # decimal) so AQE coalesced the scoring exchange to ONE partition
    # and the per-(query,doc) decimal sum + rank window ran serial
    # (0.4-0.6 CPU-s at sf0.1 on every serve row). Rows here are
    # query-bound at any corpus size (n_queries x candidates x terms),
    # so the forfeited map-side partial combine costs a bounded small
    # shuffle while the agg + window spread across the box.
    # width 8, not full defaultParallelism: the widen_scan trade — the
    # serial stage is ~0.5 CPU-s, so 8 tasks recover ~all of it while a
    # 32-way exchange pays more scheduling than it spreads (measured:
    # hybrid_rrf_serve +0.4 s at par=32)
    par = min(terms.sparkSession.sparkContext.defaultParallelism, 8)
    scored = (
        terms.repartition(par, "query_id", "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("_score"))
    )
    rk = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("_score").cast("double").alias("score"),
        )
    )


def bm25_serve(
    postings: DataFrame,
    stats: DataFrame,
    qtoks: DataFrame,
    delta_docs: DataFrame | None = None,
    topk: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, rank, score): BM25 top-k served from the
    staged inverted index, optionally merged with an UNINDEXED delta
    batch — exact over base ∪ delta (identical scores to a from-scratch
    rebuild; see the module note on additivity).

    Serve cost: partition-pruned postings of the query vocabulary
    (+ one delta-sized explode when a delta rides along); never a
    corpus rescan."""
    qt, terms, buckets = _bm25_query_set(qtoks)
    hits = (
        postings.where(F.col("bkt").isin(buckets))
        .where(F.col("tok").isin(terms))
        .select("tok", "doc_id", "tf", "dl")
    )
    if delta_docs is not None:
        hits = hits.unionByName(_bm25_tf(delta_docs, text_col, terms))
        stats = stats.unionByName(bm25_corpus_stats(delta_docs, text_col)).agg(
            F.sum("n_docs").alias("n_docs"), F.sum("total_len").alias("total_len")
        )
    return _bm25_ranked(hits, stats, qt, topk, k1, b)


def bm25_topk(
    docs: DataFrame,
    n_queries: int = BM25_N_QUERIES,
    q_len: int = BM25_QUERY_LEN,
    topk: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, rank, score): BM25 top-k documents per query,
    from scratch — bm25_serve's pipeline with no staged base and the
    whole corpus as the delta: the bm25_query_terms workload, the corpus
    tf pruned map-side to its tokens (no full postings are built),
    bm25_corpus_stats, and the shared scoring/rank tail."""
    qt, terms, _ = _bm25_query_set(bm25_query_terms(docs, n_queries, q_len, text_col))
    return _bm25_ranked(
        _bm25_tf(docs, text_col, terms), bm25_corpus_stats(docs, text_col), qt, topk, k1, b
    )


def bm25_incremental_sql(
    base_sql: str,
    delta_sql: str,
    n_queries: int = BM25_N_QUERIES,
    q_len: int = BM25_QUERY_LEN,
    topk: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB oracle for the staged-index serve path: the FROM-SCRATCH
    BM25 over base ∪ delta, queries drawn from the BASE corpus only
    (the staged query workload) — every green row re-proves the
    postings/stats additivity argument, not just the plumbing."""
    toks = TOKENS_SQL.format(col="text")
    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)", "'bm25'")
    return f"""
        WITH bmi_base AS (SELECT doc_id, {toks} AS t FROM ({base_sql})),
        bmi_all AS (
            SELECT doc_id, t FROM bmi_base
            UNION ALL
            SELECT doc_id, {toks} AS t FROM ({delta_sql})),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST((sum(len(t)) * 1000000) // count(*) AS DOUBLE) / 1000000.0
                       AS avgdl
            FROM bmi_all),
        qd AS (
            SELECT doc_id, t FROM bmi_base WHERE len(t) >= {q_len + 1}
            ORDER BY {h}, doc_id LIMIT {n_queries}),
        qt AS (
            SELECT DISTINCT doc_id AS query_id, unnest(t[2:{q_len + 1}]) AS tok
            FROM qd),
        tf AS (
            SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl
            FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM bmi_all)
            WHERE tok IN (SELECT tok FROM qt)
            GROUP BY 1, 2),
        dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        terms AS (
            SELECT q.query_id, f.doc_id,
                   CAST(round(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (f.tf * {1.0 + k1})
                       / (f.tf + {k1} * ({1.0 - b} + {b} * f.dl / s.avgdl)),
                   6) AS DECIMAL(18,6)) AS w
            FROM tf f
            JOIN qt q USING (tok)
            JOIN dft d USING (tok)
            CROSS JOIN stats s),
        sc AS (
            SELECT query_id, doc_id, sum(w) AS score FROM terms GROUP BY 1, 2),
        rk AS (
            SELECT query_id, doc_id, score,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id
                   ) AS rank
            FROM sc)
        SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
               CAST(score AS DOUBLE) AS score
        FROM rk WHERE rank <= {topk}
    """


# ---------------------------------------------------------------------------
# Corpus drift: token-distribution divergence between corpus slices
# ---------------------------------------------------------------------------
# The crawl-over-crawl / shard-over-shard monitoring op: when a 100 TB
# corpus is assembled from many sources (or successive snapshots), a
# source whose token distribution drifts from the corpus mixture is the
# first sign of a scraper regression, an encoding bug, or a topic shift
# that will move the trained model. Per slice: KL(p_slice || q_corpus)
# over a FIXED bin space — the top-DRIFT_VOCAB corpus tokens by count
# (ties broken by token, deterministic) plus one OOV bucket — with
# add-1/2 smoothing so zero-count bins stay finite. Counts are exact
# integers on both engines; each KL term is one double expression
# rounded to 6dp and summed as DECIMAL (the bm25 convention: order-free
# and cross-engine exact, absorbing the <=1-ulp ln() divergence).

DRIFT_VOCAB = 16  # top-V corpus tokens form the bins; the rest pool as OOV
_DRIFT_OOV = "<oov>"  # a literal token equal to this maps INTO the OOV bin
#                       (declared collision semantics; whitespace
#                       tokenization cannot produce it from normal text)


def drift_vocab(tc: DataFrame, vocab_size: int = DRIFT_VOCAB) -> DataFrame:
    """The fixed bin space: top-``vocab_size`` tokens of a (src, tok, c)
    count table by total count, ties broken by token — deterministic,
    tiny, broadcastable. Shared by corpus_drift (vocab from the corpus
    itself) and the streaming drift monitor (vocab staged from the
    BASELINE corpus, so every micro-batch bins identically)."""
    from pyspark.sql.window import Window

    tot = tc.groupBy("tok").agg(F.sum("c").alias("ct"))
    w = Window.orderBy(F.col("ct").desc(), F.col("tok").asc())
    return (
        tot.select("tok", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= vocab_size)
        .select("tok")
    )


def drift_bin_counts(tc: DataFrame, vocab: DataFrame) -> DataFrame:
    """(src, bin, c): token counts folded onto the fixed vocab + OOV bin
    space. ``tc`` is a (src, tok, c) count table; counts are ADDITIVE
    across calls, which is what makes the streaming monitor's state a
    pure counter merge."""
    return (
        tc.join(
            F.broadcast(vocab.withColumnRenamed("tok", "_v")),
            tc["tok"] == F.col("_v"),
            "left",
        )
        .select("src", F.coalesce(F.col("_v"), F.lit(_DRIFT_OOV)).alias("bin"), "c")
        .groupBy("src", "bin")
        .agg(F.sum("c").alias("c"))
    )


def corpus_drift(
    docs: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
    vocab_size: int = DRIFT_VOCAB,
) -> DataFrame:
    """(source, n_tokens, kl_div): per-slice token-distribution KL
    divergence against the whole-corpus distribution.

    Scale shape: ONE corpus-wide explode + (slice, token) count agg
    (map-side combinable) is the only big job; everything downstream
    operates on the (slices x distinct-tokens) aggregate — vocab top-V
    selection, broadcast bin mapping, a slices x (V+1) grid (both sides
    bounded), and a per-slice decimal sum. For corpora whose distinct
    token count itself explodes, swap the exact top-V for the CM-sketch
    heavy-hitters already in operators/stats.py — the bin space, not
    the mechanism, is the contract."""
    # spread raw text across the cluster BEFORE the token explode (the
    # documents_with_dups convention): a fixture-sized corpus arrives as
    # one parquet split, and sizing the explode stage by input splits is
    # exactly wrong when each row fans out ~100x (the x100 soak ran the
    # x1 leg SLOWER than x100 for this reason — 2.3 vs 1.0 s). At real
    # scale files >> cores and the repartition is a no-op-sized shuffle
    # of raw text either way.
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        F.col(slice_col).alias("src"), F.explode(tokens_col(text_col)).alias("tok")
    )
    # reused by vocab selection, bin mapping, and totals — checkpoint so
    # the corpus explode+agg runs once, not once per consumer
    tc = (
        toks.groupBy("src", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    binned = drift_bin_counts(tc, drift_vocab(tc, vocab_size)).localCheckpoint(
        eager=False
    )
    baseline = binned.groupBy("bin").agg(F.sum("c").alias("cb"))
    return drift_kl(binned, baseline)


def drift_kl(counts: DataFrame, baseline: DataFrame) -> DataFrame:
    """(source, n_tokens, kl_div): smoothed KL of each src's bin counts
    (src, bin, c) against a baseline bin-count table (bin, cb). The bin
    space is baseline bins ∪ OOV; zero-count bins on either side
    contribute smoothed terms, so every KL is finite. Shared by
    corpus_drift (baseline = the corpus's own mixture) and the
    streaming drift monitor (baseline = the staged training corpus).

    The smoothing denominator uses the ACTUAL bin count, not a nominal
    vocab size: with add-1/2 over n_bins both p and q sum to exactly 1
    and Gibbs' inequality guarantees KL >= 0 (up to per-term 6dp
    rounding). The first draft smoothed by 0.5*(DRIFT_VOCAB+1)
    regardless, which sub-normalizes both sides whenever the corpus
    has fewer distinct tokens than the vocab cap — the hypothesis
    non-negativity property caught a -0.09 'divergence' on a
    4-token corpus."""
    spark = counts.sparkSession
    bins = (
        baseline.select("bin")
        .unionByName(spark.range(1).select(F.lit(_DRIFT_OOV).alias("bin")))
        .distinct()
        .localCheckpoint(eager=False)  # counted AND gridded below
    )
    n_bins = bins.groupBy().agg(F.count(F.lit(1)).alias("nb"))
    slices = counts.groupBy("src").agg(F.sum("c").alias("n"))
    # full slice x bin grid: zero-count bins still contribute a smoothed term
    grid = (
        slices.crossJoin(F.broadcast(bins))
        .join(counts, ["src", "bin"], "left")
        .select("src", "n", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .crossJoin(F.broadcast(n_bins))
    )
    base_full = bins.join(baseline, "bin", "left").select(
        "bin", F.coalesce(F.col("cb"), F.lit(0)).alias("cb")
    )
    n_tot = baseline.groupBy().agg(F.sum("cb").alias("nn"))
    p = (F.col("c") + F.lit(0.5)) / (F.col("n") + F.lit(0.5) * F.col("nb"))
    q = (F.col("cb") + F.lit(0.5)) / (F.col("nn") + F.lit(0.5) * F.col("nb"))
    term = F.round(p * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        grid.join(F.broadcast(base_full), "bin")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("src", "n")
        .agg(F.sum(term).alias("_kl"))
        .select(
            F.col("src").alias("source"),
            F.col("n").cast("bigint").alias("n_tokens"),
            F.col("_kl").cast("double").alias("kl_div"),
        )
    )


def corpus_drift_sql(
    from_sql: str, vocab_size: int = DRIFT_VOCAB
) -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
        WITH cd_toks AS (
            SELECT source AS src, unnest({toks}) AS tok FROM ({from_sql})),
        cd_tc AS (SELECT src, tok, count(*) AS c FROM cd_toks GROUP BY 1, 2),
        cd_tot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM cd_tc GROUP BY 1),
        cd_vocab AS (
            SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY ct DESC, tok) AS rn
                FROM cd_tot) WHERE rn <= {vocab_size}),
        cd_bin AS (
            SELECT t.src, COALESCE(v.tok, '{_DRIFT_OOV}') AS bin,
                   CAST(sum(t.c) AS BIGINT) AS c
            FROM cd_tc t LEFT JOIN cd_vocab v ON t.tok = v.tok GROUP BY 1, 2),
        cd_bins AS (
            SELECT tok AS bin FROM cd_vocab
            UNION ALL SELECT '{_DRIFT_OOV}'),
        cd_slices AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM cd_bin GROUP BY 1),
        cd_grid AS (
            SELECT s.src, s.n, b.bin, COALESCE(cb.c, 0) AS c
            FROM cd_slices s CROSS JOIN cd_bins b
            LEFT JOIN cd_bin cb ON cb.src = s.src AND cb.bin = b.bin),
        cd_corpus AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM cd_bin GROUP BY 1),
        cd_n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cd_bin),
        cd_nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cd_bins)
        SELECT src AS source, CAST(n AS BIGINT) AS n_tokens,
               CAST(sum(CAST(round(
                   ((c + 0.5) / (n + 0.5 * nb))
                   * ln(((c + 0.5) / (n + 0.5 * nb))
                        / ((COALESCE(cb, 0) + 0.5) / (nn + 0.5 * nb))),
               6) AS DECIMAL(18,6))) AS DOUBLE) AS kl_div
        FROM cd_grid LEFT JOIN cd_corpus USING (bin)
        CROSS JOIN cd_n CROSS JOIN cd_nb
        GROUP BY src, n
    """


def bm25_topk_sql(
    from_sql: str,
    n_queries: int = BM25_N_QUERIES,
    q_len: int = BM25_QUERY_LEN,
    topk: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    toks = TOKENS_SQL.format(col="text")
    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)", "'bm25'")
    return f"""
        WITH base AS (SELECT doc_id, {toks} AS t FROM ({from_sql})),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST((sum(len(t)) * 1000000) // count(*) AS DOUBLE) / 1000000.0
                       AS avgdl
            FROM base),
        qd AS (
            SELECT doc_id, t FROM base WHERE len(t) >= {q_len + 1}
            ORDER BY {h}, doc_id LIMIT {n_queries}),
        qt AS (
            SELECT DISTINCT doc_id AS query_id, unnest(t[2:{q_len + 1}]) AS tok
            FROM qd),
        tf AS (
            SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl
            FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM base)
            WHERE tok IN (SELECT tok FROM qt)
            GROUP BY 1, 2),
        dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        terms AS (
            SELECT q.query_id, f.doc_id,
                   CAST(round(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (f.tf * {1.0 + k1})
                       / (f.tf + {k1} * ({1.0 - b} + {b} * f.dl / s.avgdl)),
                   6) AS DECIMAL(18,6)) AS w
            FROM tf f
            JOIN qt q USING (tok)
            JOIN dft d USING (tok)
            CROSS JOIN stats s),
        sc AS (
            SELECT query_id, doc_id, sum(w) AS score FROM terms GROUP BY 1, 2),
        rk AS (
            SELECT query_id, doc_id, score,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id
                   ) AS rank
            FROM sc)
        SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
               CAST(score AS DOUBLE) AS score
        FROM rk WHERE rank <= {topk}
    """
