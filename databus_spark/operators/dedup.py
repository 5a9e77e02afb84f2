"""Deduplication operators for training-data pipelines.

Beyond-reference capability (SURVEY §7 Phase 6). Five flavors, each a
first-class engine operator with a DuckDB oracle:

  exact          hash-groupBy on canonical text (md5)
  ngram_jaccard  word-shingle Jaccard over an inverted-index self-join
  minhash_lsh    k seeded minhashes -> banded LSH buckets -> candidates
  simhash        b-bit sign-of-weighted-sums sketch + hamming pairs
  embedding      cosine near-dup within sign-LSH buckets

Scale notes (100 TB):
- every operator is a pure DataFrame plan: shuffles only on content
  hash / shingle / band key / bucket — all partitionable, no driver state;
- the pairwise steps never materialize the full O(n^2) cross join: they
  join through an index (shared shingle, band bucket, sign bucket), the
  standard blocking used at corpus scale;
- hashes come from databus_spark.functions.portable_hash64 (md5-based),
  so DuckDB reproduces them bit-exactly.

The synthetic `documents` table has no exact duplicates, so the exact /
near-dup demos operate on `documents_with_dups` — a deterministic union
adding mirrored copies (doc_id + 1_000_000) of every 10th document and
lightly-edited copies (first token dropped, doc_id + 2_000_000) of every
7th. Both engines construct it identically.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databus_spark.catalog import load_table
from databus_spark.functions.hashes import portable_hash64, portable_hash64_sql
from databus_spark.operators.text import TOKENS_SQL, _ngrams, tokens_col

# ---------------------------------------------------------------------------
# Fixture: deterministic duplicated corpus
# ---------------------------------------------------------------------------

def documents_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    exact = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        F.lit("mirror").alias("source"),
        "n_chars",
    )
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        # drop the first token -> a near-duplicate, not an exact one
        F.ltrim(F.expr("substring(text, instr(text, ' ') + 1)")).alias("text"),
        "lang",
        F.lit("edited").alias("source"),
        "n_chars",
    )
    out = d.unionByName(exact).unionByName(near)
    # Spread documents across the cluster BEFORE the explode-heavy
    # downstream (shingles/tokens fan out ~100-1000 rows per doc): one
    # cheap shuffle of raw text buys full-width parallelism for the
    # explode stage and absorbs doc-length skew. The EXPLICIT partition
    # count matters: without it AQE coalesces the (tiny pre-explode)
    # shuffle to ~1 partition by size, serializing the expensive stage —
    # sizing by pre-explode bytes is exactly wrong when each row fans out
    # 100-1000x. Measured at sf0.1: shingling 5.2s -> 1.0s.
    n = out.sparkSession.sparkContext.defaultParallelism
    return out.repartition(n, F.col("doc_id"))


DOCS_WITH_DUPS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang, 'mirror', n_chars
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000,
           ltrim(substr(text, instr(text, ' ') + 1)),
           lang, 'edited', n_chars
    FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Canonical survivor per exact text: min doc_id wins; group size kept.

    One shuffle on the content hash; at 100 TB the md5 key also salts
    perfectly (uniform) so there is no skew.
    """
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


EXACT_DEDUP_SQL = f"""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS survivor_doc_id,
           count(*) AS n_copies
    FROM ({DOCS_WITH_DUPS_SQL})
    GROUP BY 1 HAVING count(*) > 1
"""


def canonical_text(c: Column | str) -> Column:
    """Dedup canonical form: lowercase, punctuation stripped, whitespace
    runs collapsed, ends trimmed — the cheap normalization catching the
    reformatted-copy tail (case changes, re-wrapping, punctuation edits)
    that byte-exact hashing misses. Pure Catalyst regexp chain."""
    col = F.col(c) if isinstance(c, str) else c
    stripped = F.regexp_replace(F.lower(col), "[^a-z0-9\\s]", "")
    return F.trim(F.regexp_replace(stripped, "\\s+", " "))


CANONICAL_TEXT_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def canonical_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup over the canonical form: groups differing only in
    case/punctuation/whitespace collapse to one survivor. Same
    single-uniform-shuffle shape as exact_dedup."""
    return (
        docs.withColumn("canon_hash", F.md5(canonical_text("text")))
        .groupBy("canon_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


CANONICAL_DEDUP_SQL = f"""
    SELECT md5({CANONICAL_TEXT_SQL.format(col='text')}) AS canon_hash,
           min(doc_id) AS survivor_doc_id,
           count(*) AS n_copies
    FROM ({DOCS_WITH_DUPS_SQL})
    GROUP BY 1 HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard near-dup (inverted-index blocking)
# ---------------------------------------------------------------------------

def _shingles(docs: DataFrame, k: int) -> DataFrame:
    # zip_with gram chain (text._ngrams) — measured ~16x cheaper per row
    # than sequence+transform+slice; short docs keep the whole-doc gram
    # (matches the oracle's range()+slice form).
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # gram build is per-row CPU on the scan task
    sh = F.array_distinct(_ngrams(tokens_col("text"), k, short_doc_whole=True))
    return docs.select("doc_id", F.explode(sh).alias("shingle"))


_SHINGLES_SQL = f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(toks) - {{k}}, 0) + 1),
               i -> array_to_string(toks[i+1 : i+{{k}}], ' ')))) AS shingle
    FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM ({DOCS_WITH_DUPS_SQL}))
"""


MAX_SHINGLE_DF = 100  # spam-shingle cap: df above this carries no dedup signal

# Hot-bucket cap for the banded-LSH candidate generators (minhash, simhash).
# A degenerate band bucket — boilerplate corpora collapse millions of docs
# onto one band_key at 100 TB — would fan out O(n^2) pairs; buckets above
# this population carry no *near*-dup signal (exact clones that big are
# exact_dedup's job) and are dropped from pair generation, mirroring the
# MAX_SHINGLE_DF convention above.
MAX_BAND_DOCS = 200


def pair_array(pair_struct) -> Column:
    """array of pair_struct(x, y) over every (earlier, later) element
    pair of the array column `docs`: the C(size, 2) pairs of one
    posting list as one nested-transform expression, no self-join."""
    docs = F.col("docs")
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)), lambda y: pair_struct(x, y)
            ),
        )
    )


def _posting_pairs(postings: DataFrame, pair_struct) -> DataFrame:
    """Ordered pairs from grouped, size-capped posting lists.

    `postings` must have a sorted array column `docs`; `pair_struct(x, y)`
    builds the output struct for one (earlier, later) element pair. One
    explode of pair_array instead of a self-join: the per-row pair array
    is bounded by C(MAX_BAND_DOCS, 2), so no bucket can go quadratic in
    the shuffle.

    The explicit repartition matters (same AQE trap as
    documents_with_dups): the posting lists are tiny pre-explode, so AQE
    coalesces the groupBy shuffle to ~1 partition by size — and then the
    C(df,2) pair fan-out and the downstream distinct run serialized. One
    cheap round-robin shuffle of the grouped lists buys full-width
    parallelism for the expensive explode stage.
    """
    n = postings.sparkSession.sparkContext.defaultParallelism
    return (
        postings.repartition(n)
        .select(F.explode(pair_array(pair_struct)).alias("p"))
        .select("p.*")
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, k: int = 5, threshold: float = 0.6) -> DataFrame:
    """Candidate pairs sharing >=1 k-shingle, scored by exact Jaccard.

    The self-join goes through the shingle inverted index — never a
    cross join. Hot shingles fan out quadratically, so shingles with
    document frequency > MAX_SHINGLE_DF are dropped from the JOIN side
    (the standard spam-shingle cap in corpus dedup); per-doc shingle
    counts for the Jaccard denominator still use ALL shingles, so the
    score is exact whenever a pair shares at least one rare shingle.
    """
    sh = _shingles(docs, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # pair generation instead of a self-join: group docs per shingle once,
    # emit the C(df,2) ordered pairs of each rare shingle's posting list.
    # One explode + two shuffles total; the posting list is bounded by
    # MAX_SHINGLE_DF so the per-row pair array is O(cap^2) worst case.
    postings = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= MAX_SHINGLE_DF))
    )
    pairs = pair_array(lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")))
    shared = (
        postings.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "n_shared", "jaccard")


def ngram_jaccard_sql(k: int = 5, threshold: float = 0.6) -> str:
    sh = _SHINGLES_SQL.format(k=k)
    return f"""
        WITH sh AS ({sh}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        rare AS (
            SELECT * FROM sh WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= {MAX_SHINGLE_DF}
            )
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared,
               round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# 3. Banded LSH: one pipeline for the MinHash and bit-hash families
# ---------------------------------------------------------------------------
# A family is its band keys, a per-row payload and a pairwise score.
# One band-row builder, one capped pair generator and one delta probe
# serve the MinHash and the bit-hash (SimHash, dHash, audio) families.


class _LSHFamily(NamedTuple):
    """Band keys (one per band) and the payload struct are expressions
    over a signature row; score(x, y) scores two rows carrying the
    payload fields, a pair is kept where keep(score), and a delta doc's
    best match has the lowest rank."""

    band_keys: list[Column]
    payload: Column
    score: Callable[[Column, Column], Column]
    keep: Callable[[Column], Column]
    rank: Callable[[Column], Column]


def _lsh_bands(sig: DataFrame, fam: _LSHFamily, id_out: str) -> DataFrame:
    """(id_out, {id_out}_sig, band, band_key) from ONE scan of the
    signatures and one explode: a per-band union would scan them once
    per band (bands x partitions near-empty map tasks)."""
    bands = F.array(
        *[
            F.struct(F.lit(b).cast("int").alias("band"), key.alias("band_key"))
            for b, key in enumerate(fam.band_keys)
        ]
    )
    return sig.select(
        F.col("doc_id").alias(id_out),
        fam.payload.alias(f"{id_out}_sig"),
        F.explode(bands).alias("_bk"),
    ).select(id_out, f"{id_out}_sig", "_bk.band", "_bk.band_key")


def _lsh_pairs(sig: DataFrame, fam: _LSHFamily, score_name: str) -> DataFrame:
    """(doc_a, doc_b, {score_name}) for doc_a < doc_b sharing a band
    bucket of at most MAX_BAND_DOCS docs, kept by the family. Pair-gen
    from posting lists, never a band self-join; the lists carry the
    payloads, so scoring needs no join back to the signatures."""
    # checkpoint: another action on the pairs reuses the signatures, not
    # their shuffle and per-row Python work (the media decode) again
    banded = _lsh_bands(sig.localCheckpoint(eager=False), fam, "doc_id")
    # doc_id FIRST: sort_array orders by it, so pair-gen emits doc_a < doc_b;
    # the payload fields sit flat beside it
    postings = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "doc_id_sig.*"))).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= MAX_BAND_DOCS))
    )
    pairs = _posting_pairs(
        postings,
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            fam.score(x, y).alias(score_name),
        ),
    )
    return pairs.where(fam.keep(F.col(score_name)))


def _lsh_probe(delta_sig, base_bands, fam: _LSHFamily, best_name, ids=None) -> DataFrame:
    """(doc_id, matched_base, {best_name}, is_new) per doc of ids (default
    the delta): its lowest-rank kept base match, ties to the lowest id,
    found by probing the base band rows (base_doc, base_doc_sig, band,
    band_key), so the delta never re-signs the base. Buckets of more
    than MAX_BAND_DOCS base docs are not probed. Both payloads ride the
    band rows: no scoring join goes back to a signature table."""
    # barrier: the delta signatures can feed both the probe bands and the
    # id list; per-row Python work in them (the media decode) would run twice
    delta_sig = delta_sig.localCheckpoint(eager=False)
    ids = delta_sig if ids is None else ids
    in_bucket = F.count(F.lit(1)).over(Window.partitionBy("band", "band_key"))
    base = base_bands.withColumn("_n", in_bucket).where(F.col("_n") <= MAX_BAND_DOCS)
    score = fam.score(F.col("in_doc_sig"), F.col("base_doc_sig"))
    # a pair sharing several buckets repeats; min needs no distinct
    best = F.min(F.struct(fam.rank(F.col("_s")).alias("_r"), "base_doc", "_s"))
    matches = (
        _lsh_bands(delta_sig, fam, "in_doc")
        .join(base, ["band", "band_key"])
        .select("in_doc", "base_doc", score.alias("_s"))
        .where(fam.keep(F.col("_s")))
        .groupBy("in_doc")
        .agg(best.alias("_m"))
        .select(
            "in_doc",
            F.col("_m.base_doc").alias("matched_base"),
            F.col("_m._s").alias(best_name),
        )
    )
    return (
        ids.select("doc_id")
        .join(matches, F.col("doc_id") == F.col("in_doc"), "left")
        .select("doc_id", "matched_base", best_name, F.col("matched_base").isNull().alias("is_new"))
    )


# -- MinHash family ----------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# Affine minhash family over ONE base hash: h = portable_hash64(shingle),
# mh_i = (A_i*(h & 2^30-1) + B_i*(h >> 30) + C_i) mod 2^61-1. One md5 per
# shingle instead of N_HASHES — the md5 was ~the whole signature cost —
# and every term stays < 2^62, so 64-bit signed arithmetic is exact and
# identical in Spark and DuckDB (no overflow, no HUGEINT needed).
_MH_MOD = (1 << 61) - 1
_MH_MASK30 = (1 << 30) - 1
_MH_A = [((2654435761 * (2 * i + 1)) % 2147483647) | 1 for i in range(N_HASHES)]
_MH_B = [((2246822519 * (2 * i + 3)) % 2147483647) | 1 for i in range(N_HASHES)]
_MH_C = [(3266489917 * (i + 1)) % 2147483647 for i in range(N_HASHES)]


def minhash_signatures(docs: DataFrame, k: int = 5) -> DataFrame:
    """k-shingle -> N_HASHES affine minhashes per document.

    One explode + one groupBy(doc) with N_HASHES min() aggregates — a
    single shuffle, map-side combinable, no UDFs. The per-seed hashes are
    affine transforms of one md5-based base hash (see _MH_* above), so
    the scan computes one md5 per shingle, not sixteen.
    """
    sh = _shingles(docs, k)
    h = portable_hash64(F.col("shingle"))
    base = sh.select(
        "doc_id",
        h.bitwiseAND(F.lit(_MH_MASK30).cast("long")).alias("lo"),
        F.shiftright(h, 30).alias("hi"),
    )
    aggs = [
        F.min(
            (
                F.lit(_MH_A[i]).cast("long") * F.col("lo")
                + F.lit(_MH_B[i]).cast("long") * F.col("hi")
                + F.lit(_MH_C[i]).cast("long")
            )
            % F.lit(_MH_MOD)
        ).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    return base.groupBy("doc_id").agg(*aggs)


def _band_keys() -> list[Column]:
    """Band b's key: the md5 of minhashes b*rows .. b*rows + rows - 1."""
    rows = N_HASHES // N_BANDS
    return [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]))
        for b in range(N_BANDS)
    ]


def _minhash_family(threshold: float = 0.5) -> _LSHFamily:
    """Payload: the minhashes; score: the fraction of equal minhashes
    (the unbiased Jaccard estimate), kept if >= threshold; rank: -score."""

    def score(x, y):
        eq = sum(F.when(x[f"mh_{i}"] == y[f"mh_{i}"], 1).otherwise(0) for i in range(N_HASHES))
        return F.round(eq / F.lit(N_HASHES), 6)

    payload = F.struct(*[F.col(f"mh_{i}") for i in range(N_HASHES)])
    return _LSHFamily(_band_keys(), payload, score, lambda s: s >= threshold, lambda s: -s)


def minhash_lsh_pairs(docs: DataFrame, k: int = 5, threshold: float = 0.5) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become candidates;
    candidates are scored by signature similarity (fraction of equal
    minhashes) and thresholded, inline from the signatures the posting
    lists carry (_lsh_pairs). Payload cost is N_HASHES longs per posting
    entry, bounded by MAX_BAND_DOCS per bucket."""
    return _lsh_pairs(
        minhash_signatures(docs, k), _minhash_family(threshold), "est_jaccard"
    )


def minhash_lsh_sql(k: int = 5, threshold: float = 0.5) -> str:
    sh = _SHINGLES_SQL.format(k=k)
    mh_cols = ", ".join(
        f"min(({_MH_A[i]} * lo + {_MH_B[i]} * hi + {_MH_C[i]}) % {_MH_MOD}) AS mh_{i}"
        for i in range(N_HASHES)
    )
    rows_per_band = N_HASHES // N_BANDS
    band_rows = []
    for b in range(N_BANDS):
        cols = ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS band_key FROM sig"
        )
    banded = " UNION ALL ".join(band_rows)
    eq = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    h = portable_hash64_sql("shingle")
    return f"""
        WITH sh AS ({sh}),
        shb AS (
            SELECT doc_id, (h & {_MH_MASK30}) AS lo, (h >> 30) AS hi
            FROM (SELECT doc_id, {h} AS h FROM sh)
        ),
        sig AS (SELECT doc_id, {mh_cols} FROM shb GROUP BY doc_id),
        banded AS ({banded}),
        ok_buckets AS (
            SELECT band, band_key FROM banded
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MAX_BAND_DOCS}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN ok_buckets ok
              ON ok.band = a.band AND ok.band_key = a.band_key
            JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, round(({eq}) / {N_HASHES}.0, 6) AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE round(({eq}) / {N_HASHES}.0, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """b-bit SimHash over tokens: bit j set iff sum over tokens of
    (count * (bit_j(hash(token)) ? +1 : -1)) > 0.

    One explode + one groupBy(doc) with b conditional-sum aggregates —
    single shuffle, map-side combinable.
    """
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    counted = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    h = portable_hash64(F.col("tok"), 42)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = counted.groupBy("doc_id").agg(*bit_sums)
    value = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", value.cast("long").alias("simhash"))


def simhash_sql() -> str:
    h = portable_hash64_sql("tok", 42)
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    toks = TOKENS_SQL.format(col="text")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({toks}) AS tok FROM ({DOCS_WITH_DUPS_SQL})
        ),
        counted AS (
            SELECT doc_id, tok, count(*) AS cnt, {h} AS h
            FROM toks GROUP BY doc_id, tok
        ),
        sums AS (SELECT doc_id, {bit_sums} FROM counted GROUP BY doc_id)
        SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM sums
    """


def hash_band_layout(n_bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) per band: max_hamming+1 contiguous bands covering
    all n_bits (last band absorbs the remainder). Pigeonhole: a pair
    within distance d has >= one band with no differing bit, i.e. an
    exact band match — so banded blocking has PERFECT recall at <= d."""
    n_bands = max_hamming + 1
    width = n_bits // n_bands
    layout = [(b * width, width) for b in range(n_bands - 1)]
    layout.append(((n_bands - 1) * width, n_bits - (n_bands - 1) * width))
    return layout


def _bithash_family(hash_col: str, n_bits: int, max_hamming: int) -> _LSHFamily:
    """Payload: the hash; score: the hamming distance, kept if <=
    max_hamming; rank: the score."""
    return _LSHFamily(
        _bithash_band_keys(hash_col, n_bits, max_hamming),
        F.struct(hash_col),
        lambda x, y: F.bit_count(x[hash_col].bitwiseXOR(y[hash_col])),
        lambda s: s <= max_hamming,
        lambda s: s,
    )


def bithash_near_pairs(
    sig: DataFrame, hash_col: str, n_bits: int, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, hamming) over ANY integer bit-hash
    column (SimHash, image dHash, audio fingerprints...): the banded
    pair generator with the hamming distance computed inline from the
    carried hashes, zero joins, no quadratic buckets."""
    return _lsh_pairs(sig, _bithash_family(hash_col, n_bits, max_hamming), "hamming")


def bithash_near_pairs_sql(
    sig_cte: str, hash_col: str, n_bits: int, max_hamming: int = 2
) -> str:
    """DuckDB restatement of bithash_near_pairs over a signature CTE
    producing (doc_id, {hash_col})."""
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {hash_col} AS _h, {b} AS band, "
        f"({hash_col} >> {off}) & {(1 << width) - 1} AS band_key FROM sig"
        for b, (off, width) in enumerate(hash_band_layout(n_bits, max_hamming))
    )
    return f"""
        WITH sig AS ({sig_cte}),
        banded AS ({band_rows}),
        ok_buckets AS (
            SELECT band, band_key FROM banded
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MAX_BAND_DOCS}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a._h, b._h)) AS INT) AS hamming
        FROM banded a
        JOIN ok_buckets ok ON ok.band = a.band AND ok.band_key = a.band_key
        JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a._h, b._h)) <= {max_hamming}
    """


def _bithash_band_keys(hash_col: str, n_bits: int, max_hamming: int) -> list[Column]:
    """Band keys of a bit-hash column under hash_band_layout."""
    return [
        F.shiftright(F.col(hash_col), off).bitwiseAND(F.lit((1 << width) - 1))
        for off, width in hash_band_layout(n_bits, max_hamming)
    ]


def bithash_bands(
    sig: DataFrame, hash_col: str, n_bits: int, max_hamming: int, id_out: str
) -> DataFrame:
    """Band rows ({id_out}, {id_out}_sig, band, band_key) of a bit-hash
    signature frame: the materialize-at-ingest index an incremental
    probe joins against (persist as parquet, append per ingest batch)."""
    return _lsh_bands(sig, _bithash_family(hash_col, n_bits, max_hamming), id_out)


OCC_POS_BITS = 20  # (doc_id << 20) | pos occurrence keys: doc_id < 2^43, 1M-token docs
DEDUP_CC_DRIVER_CAP = 200_000  # edges; <= this the component solve is driver-side


def packed_key(high, low, low_bits: int, what: str):
    """(high << low_bits) + low as one orderable signed long, with a
    LOUD width guard: ids outside [0, 2^low_bits) for the low part or
    [0, 2^(63-low_bits)) for the high part raise inside codegen
    (F.raise_error — no extra job, no driver collect) instead of
    silently aliasing two distinct (high, low) pairs to one key. The
    docs position these operators for corpora where doc_id >= 2^31 is
    plausible, so overflow must be an error, not corruption."""
    high = high.cast("long")
    low = low.cast("long")
    ok = (
        (low >= 0)
        & (low < F.lit(1 << low_bits))
        & (high >= 0)
        & (high < F.lit(1 << (63 - low_bits)))
    )
    return F.when(ok, F.shiftleft(high, low_bits) + low).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{what}: packed key overflow (low_bits={low_bits}): high="),
                high.cast("string"),
                F.lit(" low="),
                low.cast("string"),
            )
        )
    )


def packed_key_sql(high: str, low: str, low_bits: int, what: str) -> str:
    """DuckDB twin of packed_key with the SAME loud width guard: the
    Spark side raises in codegen past the field bounds, so the oracle
    must error in the same range rather than silently alias two distinct
    (high, low) pairs to one key (r10 ADVICE #3 — the SQL twins got the
    narrower field but not the guard, a cross-engine divergence in
    exactly the range the guards were added for)."""
    hi_cap = 1 << (63 - low_bits)
    lo_cap = 1 << low_bits
    return (
        f"CASE WHEN ({low}) >= 0 AND ({low}) < {lo_cap}"
        f" AND ({high}) >= 0 AND ({high}) < {hi_cap}"
        f" THEN (CAST({high} AS BIGINT) << {low_bits}) + ({low})"
        f" ELSE error('{what}: packed key overflow (low_bits={low_bits}): high='"
        f" || ({high}) || ' low=' || ({low})) END"
    )


def incremental_bithash_dedup(
    incoming_sig: DataFrame,
    base_bands: DataFrame,
    n_bits: int,
    hash_col: str = "dhash",
    max_hamming: int = 2,
) -> DataFrame:
    """(doc_id, matched_base, best_hamming, is_new) per incoming doc:
    the best base match within max_hamming (lowest hamming, ties to the
    lowest base id), found by probing the base band index from
    bithash_bands — the delta NEVER re-hashes the base (the
    rolling-crawl ingestion shape incremental_near_dedup set for text)."""
    fam = _bithash_family(hash_col, n_bits, max_hamming)
    return _lsh_probe(incoming_sig, base_bands, fam, "best_hamming")


def bithash_bands_sql(
    sig_name: str, hash_col: str, n_bits: int, max_hamming: int, id_out: str
) -> str:
    """DuckDB twin of bithash_bands over a CTE named {sig_name}."""
    return " UNION ALL ".join(
        f"SELECT doc_id AS {id_out}, {hash_col} AS {id_out}_h, {b} AS band, "
        f"({hash_col} >> {off}) & {(1 << width) - 1} AS band_key FROM {sig_name}"
        for b, (off, width) in enumerate(hash_band_layout(n_bits, max_hamming))
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance: simhash is just one
    more 64-bit signature, so pair-gen delegates to the generic banded
    machinery (bithash_near_pairs) instead of keeping a parallel copy
    of the band/posting/cap/pair logic in sync. Bonus correctness: the
    shared hash_band_layout's last band absorbs the width remainder, so
    every bit is covered (the old local layout left 64 mod (d+1) high
    bits out of all bands, losing pigeonhole recall for any d where
    d+1 does not divide 64)."""
    return bithash_near_pairs(simhash(docs), "simhash", SIMHASH_BITS, max_hamming)


def simhash_near_pairs_sql(max_hamming: int = 3) -> str:
    return bithash_near_pairs_sql(simhash_sql(), "simhash", SIMHASH_BITS, max_hamming)


# ---------------------------------------------------------------------------
# 5. Near-dup clusters: connected components + survivor selection
# ---------------------------------------------------------------------------

def _cc_sig_exprs() -> list:
    """Fresh aggregate aliases for the canonical-edge-set signature —
    count first (the hybrid dispatch reads it), then order-independent
    sums the star loop compares for convergence. Fresh per call because
    Observation refuses reused alias objects."""
    return [
        F.count(F.lit(1)).alias("n"),
        # decimal sums: 60-bit hash values summed over a corpus-scale
        # edge list overflow long (ANSI mode raises)
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(portable_hash64(F.concat_ws("|", "u", "v")).cast("decimal(38,0)")).alias(
            "sh"
        ),
    ]


def _cc_canonical_edges(pairs: DataFrame) -> tuple[DataFrame, tuple]:
    """Canonical (u = max, v = min, distinct, no self-loops) edge set,
    materialized once with its signature riding the checkpoint job."""
    from pyspark.sql import Observation

    obs = Observation()
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs, *_cc_sig_exprs())
        .localCheckpoint(eager=True)
    )
    return edges, tuple(obs.get.values())


def dedup_clusters(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Connected components over candidate pairs; cluster id = min
    doc_id of the component, survivor = the doc equal to its cluster id.

    Hybrid dispatch (r10 verdict #4): the canonical edge list is
    materialized once with its count riding the checkpoint job (zero
    extra jobs). At or below DEDUP_CC_DRIVER_CAP edges (~3 MB collected)
    a driver union-find computes the identical min-label components in
    microseconds — near-dup candidate graphs are usually tiny relative
    to the corpus, and ANY distributed loop at that size is pure job
    scheduling (measured: 4.3 s for 789 edges). Above the cap the
    alternating large-star/small-star solver takes over: O(log diameter)
    rounds, each two groupBy passes over the edge list. The previous
    >cap path — min-label propagation at O(diameter) rounds — was
    strictly dominated by star and is deleted; both >cap branches now
    share _star_components.
    """
    edges, sig = _cc_canonical_edges(pairs)
    n_edges = int(sig[0] or 0)
    if n_edges <= DEDUP_CC_DRIVER_CAP:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        rows = edges.collect()
        for r in rows:
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {r["u"] for r in rows} | {r["v"] for r in rows}
        out = [(int(n), int(find(n))) for n in sorted(nodes)]
        spark = pairs.sparkSession
        # few slices, not defaultParallelism: createDataFrame over a local
        # list otherwise parallelizes to 32 near-empty partitions, and the
        # downstream join re-scans them as 32 tiny tasks PER consumer —
        # pure scheduling overhead on a <=cap (driver-sized) result
        # (measured: two 32-task stages inside semdedup_survivors_v2)
        rdd = spark.sparkContext.parallelize(out, max(1, len(out) // 65536 + 1))
        return spark.createDataFrame(rdd, "node long, label long").select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("node") == F.col("label")).alias("is_survivor"),
        )
    return _star_components(edges, sig, max_iterations)


def dedup_clusters_star(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the deep-component drop-in for dedup_clusters: rounds are
    O(log diameter) instead of O(diameter), each round two
    groupBy-and-emit passes over the edge list, no driver state beyond
    a convergence signature.

    large-star: every node's strictly-larger neighbors re-point to the
    min of its closed neighborhood; small-star: its smaller-or-equal
    neighbors (and itself) re-point there. The fixed point is a star
    forest — every node adjacent to its component minimum — read off as
    labels. Output schema matches dedup_clusters.

    Per-round cost (r6 rewrite — was 2 symmetrize-distincts over 2E rows
    plus a separate signature job): edges live CANONICALLY oriented
    (u > v) and distinct between rounds, so

    * symmetrize is a FREE union — two directions of a distinct canonical
      set cannot collide, no distinct shuffle;
    * both star steps emit canonically (large-star: v > u >= m; small-star:
      v >= m and u > m), so only ONE distinct per round, over E rows not 2E;
    * large-star's output skips its distinct entirely — min-aggregates are
      duplicate-insensitive and the end-of-round distinct dedupes;
    * the convergence signature rides the checkpoint job via
      ``Observation`` (metrics collected while the round materializes) —
      zero extra jobs per round.
    """
    edges, sig = _cc_canonical_edges(pairs)
    return _star_components(edges, sig, max_iterations)


def _star_components(edges: DataFrame, sig: tuple, max_iterations: int) -> DataFrame:
    """The large-star/small-star loop over a canonical, checkpointed
    edge set with its initial signature — shared by dedup_clusters_star
    (direct) and dedup_clusters (its >DEDUP_CC_DRIVER_CAP branch)."""
    from pyspark.sql import Observation

    def symmetrize(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # Both steps are min-agg + equi-join back on the node id — NEVER a
    # collect_set of neighborhoods (the component-min node's neighborhood
    # grows to the whole component as rounds contract it; an array agg
    # there would concentrate a giant component into one row).
    def large_star(e: DataFrame) -> DataFrame:
        # e symmetric; emits (v -> m) for strictly-larger neighbors:
        # canonical by construction (v > u >= m), duplicates tolerated
        mins = e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            e.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e canonical (every row already has v < u = the edge at its
        # larger endpoint — exactly small-star's working set)
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        nbr_edges = e.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
        self_edges = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return (
            nbr_edges.unionByName(self_edges)
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
        )

    for _ in range(max_iterations):
        stars = large_star(symmetrize(edges))
        obs = Observation()
        edges = (
            small_star(stars).distinct().observe(obs, *_cc_sig_exprs()).localCheckpoint(eager=True)
        )
        new_sig = tuple(obs.get.values())
        if new_sig == sig:
            break
        sig = new_sig
    # fixed point is a star forest: label = min over closed neighborhood
    labels = symmetrize(edges).groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("label")
    )
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("u") == F.col("label")).alias("is_survivor"),
    )


def dedup_clusters_sql(pairs_sql: str) -> str:
    """Oracle: transitive closure via recursive CTE, min reachable id."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
        )
        SELECT node AS doc_id, min(r) AS cluster_id,
               node = min(r) AS is_survivor
        FROM reach GROUP BY node
    """


# ---------------------------------------------------------------------------
# 6. Benchmark decontamination (train/test overlap removal)
# ---------------------------------------------------------------------------
# The standard training-data hygiene op: a training document is
# contaminated if it shares any k-token n-gram with a held-out
# benchmark/eval document. The benchmark side is tiny relative to the
# corpus (eval sets vs 100 TB of training text), so its distinct gram set
# is BROADCAST and the corpus-side explode streams map-side through the
# hash join — no corpus shuffle at all; the only aggregation is the
# per-doc hit count, one shuffle on doc_id.

DECONTAM_K = 8  # stricter than the k=5 dedup shingles; eval-overlap convention


def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: int = DECONTAM_K) -> DataFrame:
    """Contaminated corpus docs: any k-gram shared with the benchmark.

    Returns (doc_id, n_bench_grams) — documents with >= 1 benchmark gram
    and how many distinct benchmark grams they contain. Downstream a
    curation pipeline anti-joins this against the corpus to drop them.
    """
    bench_grams = _shingles(benchmark, k).select("shingle").distinct()
    corpus_grams = _shingles(corpus, k)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_bench_grams"))
    )


def _shingles_sql_over(from_sql: str, k: int) -> str:
    """Parametrized DuckDB twin of _shingles over an arbitrary doc set."""
    return f"""
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(0, greatest(len(toks) - {k}, 0) + 1),
                   i -> array_to_string(toks[i+1 : i+{k}], ' ')))) AS shingle
        FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM ({from_sql}))
    """


def decontaminate_sql(benchmark_from_sql: str, k: int = DECONTAM_K) -> str:
    return f"""
        WITH corpus_sh AS ({_shingles_sql_over(DOCS_WITH_DUPS_SQL, k)}),
        bench_sh AS (
            SELECT DISTINCT shingle FROM ({_shingles_sql_over(benchmark_from_sql, k)})
        )
        SELECT doc_id, count(DISTINCT shingle) AS n_bench_grams
        FROM corpus_sh JOIN bench_sh USING (shingle)
        GROUP BY 1
    """


def contamination_fraction(
    corpus: DataFrame, benchmark: DataFrame, k: int = DECONTAM_K
) -> DataFrame:
    """Graded decontamination: per-doc FRACTION of distinct k-grams that
    appear in the benchmark — the thresholdable signal (drop at >= 0.5,
    audit at >= 0.05) where decontaminate() is binary.

    Same scale shape as decontaminate (benchmark gram set broadcast,
    corpus streams map-side); the denominator is a per-doc distinct-gram
    count, one extra map-side-combinable agg on doc_id. Only docs with
    >= 1 benchmark gram are emitted.
    """
    bench_grams = _shingles(benchmark, k).select("shingle").distinct()
    # lazy local checkpoint: the gram explode feeds BOTH the totals agg
    # and the hit count — materialize it once instead of re-shingling
    # the corpus per consumer
    corpus_grams = _shingles(corpus, k).localCheckpoint(eager=False)
    totals = corpus_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_bench_grams"))
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_bench_grams",
        F.round(
            F.col("n_bench_grams").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("contamination"),
    )


def contamination_fraction_sql(benchmark_from_sql: str, k: int = DECONTAM_K) -> str:
    return f"""
        WITH corpus_sh AS ({_shingles_sql_over(DOCS_WITH_DUPS_SQL, k)}),
        bench_sh AS (
            SELECT DISTINCT shingle FROM ({_shingles_sql_over(benchmark_from_sql, k)})
        ),
        totals AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM corpus_sh GROUP BY 1
        ),
        hits AS (
            SELECT doc_id, count(DISTINCT shingle) AS n_bench_grams
            FROM corpus_sh JOIN bench_sh USING (shingle)
            GROUP BY 1
        )
        SELECT doc_id, n_grams, n_bench_grams,
               round(CAST(n_bench_grams AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
                   AS contamination
        FROM hits JOIN totals USING (doc_id)
    """


# ---------------------------------------------------------------------------
# 7. Bloom-filter decontamination (the memory-bounded scale variant)
# ---------------------------------------------------------------------------
# decontaminate() broadcasts the benchmark's distinct gram STRINGS — fine
# while eval sets are small, but a consortium-sized held-out suite can
# carry billions of grams (hundreds of GB of strings, not broadcastable).
# The classic fix is a Bloom filter: j hash positions per gram into an
# m-bit space; membership = all j positions set. The bit positions are
# derived from the same portable 60-bit hash family both engines share,
# so the outcome — INCLUDING any false positives — is deterministic and
# oracle-checkable, not just statistically close.
#
# Scale shape: the position set is at most j * |bench grams| ints but
# never wider than m (2^20 here -> <= 128 KB as a bitset, a few MB as a
# broadcast join table), independent of gram string length; the corpus
# side explodes j positions per gram map-side and joins the broadcast
# position set — the corpus itself never shuffles. A gram is flagged only
# when ALL j probes hit (count of matched seeds == j), mirroring the
# standard Bloom AND-semantics.

BLOOM_M = 1 << 20  # filter bits = 16^5: a position IS a 5-hex-char md5 slice
BLOOM_J = 3        # probes per gram (three disjoint md5 slices)


def _bloom_probe_array(shingle_col):
    """All BLOOM_J probe positions from ONE md5. Because BLOOM_M = 16^5,
    a position into the bit space is exactly a 5-hex-char digest slice —
    no numeric conversion at all (conv() big-integer parsing measured
    ~2x the whole map stage): slices [1-5], [6-10], [11-15]. One hash
    per gram, probe exchange carries 5-char keys."""
    md = F.md5(shingle_col)
    return F.array(*[F.substring(md, 1 + 5 * s, 5) for s in range(BLOOM_J)])


def decontaminate_bloom(
    corpus: DataFrame, benchmark: DataFrame, k: int = DECONTAM_K
) -> DataFrame:
    """Corpus docs whose k-grams hit the benchmark Bloom filter.

    Returns (doc_id, n_flagged_grams): distinct corpus grams for which
    all BLOOM_J probe positions are set in the filter built from the
    benchmark gram set. Superset of decontaminate()'s exact answer by
    construction (false positives only, never negatives — gram identity
    is the FULL 128-bit digest, so the superset guarantee holds modulo
    an md5 collision, the standard content-addressing assumption);
    deterministic in both engines because the probes are md5 slices
    both mirror exactly.

    The gram string is hashed ONCE map-side; every downstream exchange
    carries (doc_id, gram_h, s, pos) with 5/32-char hex keys — never
    the gram text.
    """
    bench_pos = (
        _shingles(benchmark, k)
        .select("shingle")
        .distinct()
        .select(F.explode(_bloom_probe_array(F.col("shingle"))).alias("pos"))
        .distinct()
    )
    # gram identity = the SAME digest the probes slice, kept in full
    # (32 hex chars): one md5 per gram total, shared by codegen
    # subexpression elimination with the probe array's digest
    gram_h = F.md5(F.col("shingle"))
    corpus_probes = _shingles(corpus, k).select(
        "doc_id",
        gram_h.alias("gram_h"),
        F.posexplode(_bloom_probe_array(F.col("shingle"))).alias("s", "pos"),
    )
    flagged = (
        corpus_probes.join(F.broadcast(bench_pos), "pos")
        .groupBy("doc_id", "gram_h")
        .agg(F.count_distinct("s").alias("_hits"))
        .where(F.col("_hits") == BLOOM_J)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged_grams")
    )


def decontaminate_bloom_sql(benchmark_from_sql: str, k: int = DECONTAM_K) -> str:
    pos = "substr(md5(shingle), 1 + 5 * CAST(s AS INT), 5)"
    gram_h = "md5(shingle)"
    return f"""
        WITH seeds AS (SELECT unnest(range(0, {BLOOM_J})) AS s),
        bench_pos AS (
            SELECT DISTINCT {pos} AS pos
            FROM (SELECT DISTINCT shingle
                  FROM ({_shingles_sql_over(benchmark_from_sql, k)}))
            CROSS JOIN seeds
        ),
        corpus_probes AS (
            SELECT doc_id, {gram_h} AS gram_h, s, {pos} AS pos
            FROM ({_shingles_sql_over(DOCS_WITH_DUPS_SQL, k)})
            CROSS JOIN seeds
        ),
        flagged AS (
            SELECT doc_id, gram_h
            FROM corpus_probes JOIN bench_pos USING (pos)
            GROUP BY 1, 2 HAVING count(DISTINCT s) = {BLOOM_J}
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged_grams
        FROM flagged GROUP BY 1
    """


# ---------------------------------------------------------------------------
# 8. Incremental dedup against a reference corpus
# ---------------------------------------------------------------------------

def incremental_dedup(incoming: DataFrame, base: DataFrame) -> DataFrame:
    """Dedup an incoming batch against an already-curated base corpus:
    each incoming doc is matched (by exact content hash) to the earliest
    base doc with identical text; unmatched docs are new.

    The production shape for rolling crawl ingestion — the base corpus
    is NOT re-deduped, only the (much smaller) delta is checked. One
    shuffle join on md5(text): uniform key, no skew; at 100 TB the base
    side prunes to its hash+survivor columns (two columns read from a
    100 TB table), and a Bloom filter over base hashes drops the
    clearly-new incoming docs before the join (the decontaminate_bloom
    machinery above, applied to content hashes instead of grams).
    """
    base_hashes = (
        base.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("base_survivor_doc_id"))
    )
    return (
        incoming.withColumn("content_hash", F.md5("text"))
        .join(base_hashes, "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            "base_survivor_doc_id",
            F.col("base_survivor_doc_id").isNull().alias("is_new"),
        )
    )


def incremental_dedup_sql(incoming_from_sql: str, base_from_sql: str) -> str:
    return f"""
        WITH base AS (
            SELECT md5(text) AS content_hash, min(doc_id) AS base_survivor_doc_id
            FROM ({base_from_sql}) GROUP BY 1
        )
        SELECT i.doc_id, md5(i.text) AS content_hash, b.base_survivor_doc_id,
               b.base_survivor_doc_id IS NULL AS is_new
        FROM ({incoming_from_sql}) i
        LEFT JOIN base b ON md5(i.text) = b.content_hash
    """


# ---------------------------------------------------------------------------
# 9. Windowed substring-duplication profile (span-level dedup signal)
# ---------------------------------------------------------------------------
# Document-level dedup misses the partially-duplicated middle: pages that
# quote, template, or concatenate previously-seen text. The
# substring-level answer (Lee et al., "Deduplicating Training Data Makes
# Language Models Better" — suffix-array exact substring matching)
# restated for a shuffle engine: fixed-length non-overlapping token
# windows, hashed and counted corpus-wide; a window occurrence is a
# duplicate iff it is not the globally-first occurrence of that window
# (first = lowest (doc_id, position)). Per-doc output = the fraction of
# its windows that are duplicated — the curation signal used to drop or
# trim boilerplate-heavy documents.

SPAN_WIN = 10  # tokens per window


def span_dedup_profile(docs: DataFrame, win: int = SPAN_WIN) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_fraction) over non-
    overlapping win-token windows; only docs with >= 1 full window
    appear.

    Scale: one shuffle on the window text (uniform-ish; hot boilerplate
    windows hit the AGGREGATE only — pairs are never generated), one
    1-row-per-window join back (AQE skew-join handles hot windows), one
    per-doc agg. The occurrence key packs (doc_id, position) into one
    long so "globally first" is a plain min in both engines.
    """
    toks = tokens_col("text")
    n_win = F.floor(F.size(toks) / win).cast("int")
    segs = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.array_join(F.slice(toks, i * win + 1, win), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # occurrence key packs (doc_id, position) into one long with a
    # 20-bit position field: valid for doc_id < 2^43 (the r10 100x soak
    # FIRED the old 32-bit guard — replica-strided ids reach 9.9e9 >
    # 2^31, so earlier x100 records silently aliased keys) and 2^20
    # windows per doc, raising loudly in codegen past either bound; the
    # lazy checkpoint materializes the explode once for its two
    # consumers (firsts agg + join-back)
    occ = (
        docs.select("doc_id", F.posexplode(segs).alias("seg_idx", "seg"))
        .withColumn(
            "occ_key",
            packed_key(F.col("doc_id"), F.col("seg_idx"), OCC_POS_BITS, "span_dedup"),
        )
        .localCheckpoint(eager=False)
    )
    firsts = occ.groupBy("seg").agg(F.min("occ_key").alias("first_key"))
    return (
        occ.join(firsts, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("occ_key") != F.col("first_key")).cast("long")).alias(
                "n_dup_windows"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
                6,
            ),
        )
    )


def span_dedup_sql(from_sql: str, win: int = SPAN_WIN) -> str:
    return f"""
        WITH base AS (
            SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM ({from_sql})
        ),
        occ AS (
            SELECT doc_id, (u).seg_idx AS seg_idx, (u).seg AS seg,
                   {packed_key_sql("doc_id", "(u).seg_idx", OCC_POS_BITS, "span_dedup")} AS occ_key
            FROM (
                SELECT doc_id, unnest(list_transform(
                           range(0, CAST(floor(len(toks) / {win}) AS BIGINT)),
                           i -> struct_pack(seg_idx := i,
                                seg := array_to_string(toks[i*{win}+1 : i*{win}+{win}], ' ')))) AS u
                FROM base
            )
        ),
        firsts AS (SELECT seg, min(occ_key) AS first_key FROM occ GROUP BY 1)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN occ_key <> first_key THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows,
               round(CAST(sum(CASE WHEN occ_key <> first_key THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        FROM occ JOIN firsts USING (seg)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# 9. Incremental NEAR-dup dedup against a reference corpus
# ---------------------------------------------------------------------------
# incremental_dedup() catches exact copies; a rolling crawl mostly
# delivers EDITED copies (boilerplate swaps, timestamp churn). Same
# production constraint: the base corpus is NEVER re-deduplicated —
# only the delta is probed. At 100 TB the base's band index (base_doc,
# base_doc_sig, band, band_key) is materialized once at ingest and
# appended per batch; a delta probe is one equi-join against an index
# keyed exactly like the join, and the signature each band row carries
# scores the candidate in place — the incremental complement of
# minhash_lsh_pairs' in-corpus pair-gen, run by the shared _lsh_probe.

def build_near_index(base: DataFrame, k: int = 5) -> DataFrame:
    """The base corpus' MinHash band rows (base_doc, base_doc_sig, band,
    band_key), each carrying its signature — the materialize-at-ingest
    artifact incremental_near_dedup probes. Persist it (parquet,
    appended per ingest batch) so a delta probe never re-signs the
    base."""
    return _lsh_bands(minhash_signatures(base, k), _minhash_family(), "base_doc")


def incremental_near_dedup(
    incoming: DataFrame,
    base: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    base_index=None,
) -> DataFrame:
    """(doc_id, matched_base, est_jaccard, is_new) per incoming doc:
    the base doc whose minhash signature agrees most, >= threshold
    (ties to the lowest id), found by probing the base band index.

    ``base_index`` — the band frame from build_near_index, normally read
    back from ingest-materialized parquet — skips re-signing the base
    corpus; without it the index is derived inline (the compatibility
    path for ad-hoc runs)."""
    if base_index is None:
        base_index = build_near_index(base, k)
    return _lsh_probe(
        minhash_signatures(incoming, k),
        base_index,
        _minhash_family(threshold),
        "est_jaccard",
        ids=incoming,
    )


def incremental_near_dedup_sql(
    incoming_sql: str, base_sql: str, k: int = 5, threshold: float = 0.5
) -> str:
    rows_per_band = N_HASHES // N_BANDS

    h = portable_hash64_sql("shingle")

    def sig_cte(name: str, src: str) -> str:
        # mirrors minhash_lsh_sql exactly: the 60-bit portable hash is
        # split 30/30 so the affine combos stay inside INT64
        mh_cols = ", ".join(
            f"min(({_MH_A[i]} * lo + {_MH_B[i]} * hi + {_MH_C[i]}) % {_MH_MOD}) AS mh_{i}"
            for i in range(N_HASHES)
        )
        return f"""{name} AS (
            SELECT doc_id, {mh_cols}
            FROM (
                SELECT doc_id, (h & {_MH_MASK30}) AS lo, (h >> 30) AS hi
                FROM (SELECT doc_id, {h} AS h
                      FROM ({_shingles_sql_over(src, k)}))
            ) GROUP BY doc_id
        )"""

    def bands_cte(name: str, sig: str, id_out: str) -> str:
        parts = []
        for b in range(N_BANDS):
            cols = ", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            parts.append(
                f"SELECT doc_id AS {id_out}, {b} AS band,"
                f" md5(concat_ws('|', {cols})) AS band_key FROM {sig}"
            )
        return f"{name} AS ({' UNION ALL '.join(parts)})"

    eq = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    return f"""
        WITH {sig_cte("in_sig", incoming_sql)},
        {sig_cte("base_sig", base_sql)},
        {bands_cte("in_bands", "in_sig", "in_doc")},
        {bands_cte("base_bands_all", "base_sig", "base_doc")},
        ok AS (
            SELECT band, band_key FROM base_bands_all
            GROUP BY 1, 2 HAVING count(*) <= {MAX_BAND_DOCS}
        ),
        base_bands AS (
            SELECT b.* FROM base_bands_all b JOIN ok USING (band, band_key)
        ),
        cand AS (
            SELECT DISTINCT in_doc, base_doc
            FROM in_bands JOIN base_bands USING (band, band_key)
        ),
        matches AS (
            SELECT in_doc, base_doc AS matched_base, ej AS est_jaccard
            FROM (
                SELECT in_doc, base_doc, ej,
                       row_number() OVER (PARTITION BY in_doc
                                          ORDER BY ej DESC, base_doc ASC) AS rn
                FROM (
                    SELECT in_doc, base_doc,
                           round(CAST(({eq}) AS DOUBLE) / {N_HASHES}, 6) AS ej
                    FROM cand
                    JOIN in_sig sa ON sa.doc_id = cand.in_doc
                    JOIN base_sig sb ON sb.doc_id = cand.base_doc
                )
                WHERE ej >= {threshold}
            )
            WHERE rn = 1
        )
        SELECT i.doc_id, m.matched_base, m.est_jaccard,
               m.matched_base IS NULL AS is_new
        FROM (SELECT doc_id FROM ({incoming_sql})) i
        LEFT JOIN matches m ON m.in_doc = i.doc_id
    """


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (CDC — variable rolling-hash boundaries)
# ---------------------------------------------------------------------------
# span_dedup_profile's fixed token windows lose alignment after a single
# insertion: every window downstream of the edit shifts and stops
# matching. Content-defined chunking (the rsync/LBFS/data-dedup trick)
# cuts where a ROLLING HASH of the last CDC_WIN tokens hits a boundary
# condition, so chunk boundaries re-synchronize right after an edit and
# the unchanged tail still deduplicates — the property long-document
# corpus dedup actually needs.
#
# TOKEN granularity, not characters: tokens are the unit a text corpus
# dedups at (a mid-character chunk boundary is meaningless for training
# data), and it makes boundary discovery ~two orders of magnitude
# cheaper — ~n_tokens positions x a 3-term Horner fold instead of
# n_chars x w char probes through O(i) UTF-8 boundary scans (the
# char-level form measured ~30 s per 600 docs in BOTH engines' HOF
# interpreters; this form runs in well under a second).
#
# All integer math (md5-derived 16-bit token codes, Horner fold mod
# 2^31-1), identical expressions in both engines. 100 TB shape:
# boundary discovery is per-row expression work (map-side, zero
# shuffle), then ONE shuffle on the chunk text — the same uniform-key
# profile as every dedup primitive here.

CDC_WIN = 3       # rolling-hash window (tokens)
CDC_MASK = 8      # boundary when h % CDC_MASK == 0 -> ~8-token chunks
CDC_MOD = 2147483647


def cdc_chunk_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks, dup_fraction): content-defined
    chunks whose text occurs in >= 2 distinct documents count as
    duplicated. Boundary = token positions i where the Horner hash of
    token codes (i-w, i] satisfies h % CDC_MASK == 0 (plus the document
    end); chunk text = the tokens between consecutive boundaries.

    Like span_dedup_profile, only documents with >= 1 non-empty token
    appear in the output (an empty/whitespace-only doc has no chunks
    to profile — identical in both engines)."""
    mask, mod = CDC_MASK, CDC_MOD
    # Stage 1 behind a lazy-checkpoint barrier: _toks and the md5-derived
    # 16-bit _codes are computed ONCE per row. Interpreted HOFs have no
    # common-subexpression elimination, so embedding the codes transform
    # inside the position lambdas would re-run n md5s per element_at.
    base = docs.select(
        "doc_id",
        F.expr(f"split(lower(trim({text_col})), '\\\\s+')").alias("_toks"),
    ).withColumn(
        "_codes",
        F.expr(
            "transform(_toks, tok ->"
            " cast(conv(substring(md5(tok), 1, 4), 16, 10) as bigint))"
        ),
    ).localCheckpoint(eager=False)
    # Horner fold of the last w=3 token codes, unrolled
    h = (
        "((element_at(_codes, i - 2) * 31 + element_at(_codes, i - 1)) * 31"
        f" + element_at(_codes, i)) % {mod}"
    )
    cuts = (
        f"filter(transform(sequence({CDC_WIN}, greatest(size(_toks), {CDC_WIN})), "
        # CASE guard: for docs with < w tokens the probe position
        # exceeds the array and ANSI element_at would throw
        f"i -> named_struct('pos', i, 'h', "
        f"CASE WHEN i <= size(_toks) THEN {h} ELSE 1 END)), "
        f"s -> s.pos <= size(_toks) AND s.h % {mask} == 0)"
    )
    bounds = (
        f"array_sort(array_distinct(concat(array(0), "
        f"transform({cuts}, s -> s.pos), array(size(_toks)))))"
    )
    # stage bounds as a COLUMN behind a second barrier: the chunks
    # expression references it three times and interpreted HOFs re-run
    # the sort(distinct(concat(cuts))) subtree per reference
    base2 = base.select(
        "doc_id", "_toks", F.expr(bounds).alias("_bounds")
    ).localCheckpoint(eager=False)
    # no zero-size guard needed: split() never returns an empty array
    # (an empty string tokenizes to ['']), so _bounds is always at
    # least [0, n] with n >= 1 and sequence(1, size-1) is ascending;
    # ''-chunks from whitespace-only docs are filtered below, so such
    # docs simply have no rows (documented contract)
    chunks = (
        "filter(transform(sequence(1, size(_bounds) - 1), "
        "k -> array_join(slice(_toks, element_at(_bounds, k) + 1, "
        "element_at(_bounds, k + 1) - element_at(_bounds, k)), ' ')), "
        "c -> c <> '')"
    )
    ch = base2.select(
        "doc_id", F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk")
    ).localCheckpoint(eager=False)
    df_counts = ch.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("_df")
    )
    return (
        ch.join(df_counts, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("_df") >= 2).cast("long")).alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_fraction",
            F.expr(
                "cast((n_dup_chunks * 1000000L) div greatest(n_chunks, 1L)"
                " as double) / 1000000.0"
            ),
        )
    )


def cdc_chunk_profile_sql(from_sql: str) -> str:
    w, mask, mod = CDC_WIN, CDC_MASK, CDC_MOD
    h = (
        "((codes[i - 2] * 31 + codes[i - 1]) * 31"
        f" + codes[i]) % {mod}"
    )
    cuts = (
        f"list_filter(list_transform(range({w}, greatest(len(toks), {w}) + 1), "
        f"i -> {{'pos': i, 'h': CASE WHEN i <= len(toks) THEN {h} ELSE 1 END}}), "
        f"s -> s.pos <= len(toks) AND s.h % {mask} = 0)"
    )
    bounds = (
        f"list_sort(list_distinct([0] || list_transform({cuts}, s -> s.pos)"
        f" || [len(toks)]))"
    )
    chunks = (
        f"list_filter(list_transform(range(1, len({bounds})), "
        f"k -> list_aggregate(toks[{bounds}[k] + 1:{bounds}[k + 1]], "
        f"'string_agg', ' ')), c -> c IS NOT NULL AND c <> '')"
    )
    return f"""
        WITH base AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                   list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  tok -> ('0x' || substr(md5(tok), 1, 4))::BIGINT)
                       AS codes
            FROM ({from_sql})
        ),
        ch AS (
            SELECT doc_id,
                   generate_subscripts({chunks}, 1) AS chunk_idx,
                   unnest({chunks}) AS chunk
            FROM base
        ),
        dfc AS (
            SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
               CAST((CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     * 1000000) // greatest(count(*), 1) AS DOUBLE) / 1000000.0
                   AS dup_fraction
        FROM ch JOIN dfc USING (chunk)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# 11. EXACT-SUBSTRING dedup (Lee et al., arXiv:2107.06499) — sliding windows
# ---------------------------------------------------------------------------
# The suffix-array ExactSubstr dedup, restated distributed: hash the
# L-token window at EVERY position (sliding, unlike span_dedup_profile's
# aligned non-overlapping segments — aligned windows miss duplicates at
# different offsets, which is the common case for quoted/syndicated
# text). Any duplicated substring of >= L tokens shares all of its
# aligned L-windows between occurrences, so window-hash equality detects
# exactly the >= L duplicated substrings, at granularity L. Overlapping
# dup windows are merged into MAXIMAL spans (gaps-and-islands), and the
# dedup variant cuts every occurrence except the globally first
# ((doc_id, pos)-min, the paper's keep-one policy).
#
# Scale (100 TB): window generation is map-side O(n_tokens * L) CPU per
# doc inside whole-stage codegen (no Python); the only shuffles are one
# hash-agg on the 8-byte window hash (map-side partial), one join-back
# keyed the same way (AQE handles hot boilerplate hashes; occurrences
# join 1:1 to their hash row, never pairwise, so a window repeated 1e6
# times costs 1e6 rows — not 1e12 pairs), and a per-doc window for the
# island merge. The clean step never explodes tokens: removable spans
# aggregate to a tiny per-doc array and a positional HOF filter drops
# covered tokens in place.

EXSUB_WIN = 8  # detection granularity in tokens (the paper uses 50 BPE
               # tokens at web scale; 8 matches the fixture's ~50-token docs)

# Winnowing pre-filter geometry. Selection density is 2/(w+1) with
# w = win-k+1 (the winnowing window over k-gram hashes; guarantee
# threshold w+k-1 == win exactly), so SMALL k buys density — but the
# candidate test is "this k-gram occurs >= 2 times among selected
# fingerprints", and k must be long enough that k-gram repetition
# without a real win-window dup is rare. Measured on the sf0.1 corpus
# (docs containing a corpus-duplicated k-gram, vs 477 docs with a true
# duplicated 8-window): k=4 -> 4971 docs (vacuous), k=5 -> 2064,
# k=6 -> 529, k=7 -> 477. The rule below takes w ~ win/3: at win=8
# that is k=6/w=3 (density 1/2 — weak, which is why the pre-filter
# auto-engages only at larger windows); at the paper's win=50 it is
# k=34/w=17 (density ~1/9 with an effectively collision-free 34-token
# anchor).
EXSUB_PREFILTER_MIN_WIN = 16  # auto threshold. At win=8 the anchor is
# structurally weak: w ~ win/3 leaves k=6, selection density is 1/2
# and the k-gram candidate test barely out-resolves the true dup set
# (529 candidate docs vs 477 true at sf0.1) — a 1.56x shuffle cut that
# doesn't pay for the selection pass + its extra jobs (the original
# selection measured ~4x wall; the per-level-projection rewrite closed
# most of that, but the cut stays thin). At win >= 16 density <= 1/3
# and the anchor sharpens rapidly, so the corpus-sized occurrence
# shuffle collapses to the candidate fraction (win=50 long-doc corpus:
# 4.2x shuffle cut at x10, 3.3x faster wall at x100).
_EXSUB_KPOS_BITS = 20  # pre-filter packs (hash43 << 20 | kpos): 1M-token doc cap


def _exsub_anchor(win: int) -> tuple[int, int]:
    """(k, w) for the winnowing pass: w ~ win/3 (>= 3), k = win-w+1."""
    w = max(3, (win + 2) // 3)
    return win - w + 1, w


def _exsub_prefilter_on(prefilter: bool | None, win: int) -> bool:
    return win >= EXSUB_PREFILTER_MIN_WIN if prefilter is None else prefilter


def _exsub_candidates(docs: DataFrame, win: int) -> DataFrame:
    """Docs that MAY contain a duplicated >= win-token window — the
    shuffle pre-filter (r8 verdict ask #3): the full sliding-window
    pipeline then runs only on these.

    Winnowing (Schleimer et al., SIGMOD'03 — the MOSS fingerprinting
    scheme), tuned so the guarantee threshold equals win exactly:
    k-gram hashes (k, w from _exsub_anchor) at every position, and in each
    window of w = win - k + 1 consecutive k-gram hashes the minimal
    (hash, pos) is SELECTED. Guarantee: a duplicated win-token window
    contains exactly w k-gram positions, i.e. ONE complete selection
    window lying wholly inside the match; its minimal hash is selected
    in EVERY occurrence, at the same content-determined in-match
    offset. So each occurrence emits the same k-gram hash (at distinct
    absolute (doc, pos)), and a global selected-count >= 2 flags every
    doc holding any duplicated window — 100% recall, hence PROVABLY
    identical final output; false positives (shared k-grams without a
    shared win-window, rare 43-bit collisions) only send extra docs to
    the exact phase.

    Scale: selection density is ~2/(w+1) (~1/3 of positions at win=8),
    the selection itself is per-doc array work that never leaves the
    map side, and a shuffled row is 16 bytes of (doc_id, hash) — so
    the pre-filter shuffle is ~1/3 the rows at ~half the width of the
    full occurrence shuffle, and the occurrence pipeline then pays
    data-proportional cost only on the candidate fraction (~10% on the
    fixture corpus). The k-gram hashing runs in interpreted HOF lambdas
    (SCALE.md perf rule: ~4x codegen CPU) — deliberate: map CPU scales
    with executors, the shuffle fabric is the 100 TB bottleneck."""
    rows = _exsub_selected(docs, win)
    dup_h = (
        rows.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2)
        .select("_h")
    )
    return rows.join(dup_h, "_h").select("doc_id").distinct()


def _exsub_selected(docs: DataFrame, win: int) -> DataFrame:
    """(doc_id, _h) winnowing-selected k-gram hash occurrences — the
    shared selection pass behind _exsub_candidates (batch) and the
    incremental probe. One row per selected (doc, k-position); a
    within-doc duplicate therefore contributes two rows of the same _h
    (array_distinct collapses only same-position reselections by
    adjacent windows), so global row counts per _h are occurrence
    counts."""
    k, w = _exsub_anchor(win)
    toks = tokens_col("text")
    base = docs.select("doc_id", toks.alias("_toks")).where(F.size(toks) >= win)
    n = F.col("_n")
    n_g = n - k + 1  # k-gram count; >= w whenever n_toks >= win

    # Pass-structure notes (all measured, 40k x 600-token micro-bench):
    # interpreted HOF expressions re-evaluate per REFERENCE (no CSE
    # outside codegen), so an inline binary-doubling tree re-runs the
    # whole upstream chain exponentially (10.1 s); a linear chain over
    # a materialized hash column is O(k) passes (4.5 s); binary
    # doubling with ONE PROJECTION PER LEVEL is O(log k) passes
    # (1.4 s) — CollapseProject does not inline a non-cheap projection
    # output that the upper projection references more than once
    # (canCollapseExpressions), so each level's array materializes
    # exactly once per row as a bound attribute. Correctness never
    # rests on that heuristic (the differential tests pin output);
    # only the wall does.
    def _mix(a, b):
        # rotate-xor: bit ops only (ANSI mode makes arithmetic overflow
        # an ERROR, so no polynomial multiply); inputs are already
        # xxhash64-mixed, and a collision only adds a candidate
        rot = F.shiftleft(a, 13).bitwiseOR(F.shiftrightunsigned(a, 51))
        return rot.bitwiseXOR(b)

    # binary decomposition of k: which m-gram power levels the fold needs
    bits = set()
    rem = k
    while rem:
        b = 1 << (rem.bit_length() - 1)
        bits.add(b)
        rem -= b
    top_pow = max(bits)

    df = base.select(
        "doc_id",
        F.size("_toks").alias("_n"),
        F.transform(F.col("_toks"), lambda t: F.xxhash64(t)).alias("_g1"),
    )
    m = 1
    while m < top_pow:
        keep = [f"_g{b}" for b in bits if b <= m]
        ln = n - 2 * m + 1
        df = df.select(
            "doc_id",
            "_n",
            *keep,
            F.zip_with(
                F.slice(F.col(f"_g{m}"), 1, ln),
                F.slice(F.col(f"_g{m}"), m + 1, ln),
                _mix,
            ).alias(f"_g{2 * m}"),
        )
        m *= 2
    # fold the decomposition high-to-low (each piece referenced once,
    # so this single projection is safe to inline)
    gh, off = None, 0
    for b in sorted(bits, reverse=True):
        piece = F.slice(F.col(f"_g{b}"), off + 1, n_g)
        gh = piece if gh is None else F.zip_with(gh, piece, _mix)
        off += b
    # 43-bit hash field keeps packed non-negative: (2^43-1) << 20 + pos
    # < 2^63, so signed ordering == content ordering
    mask43 = F.lit((1 << 43) - 1)
    packed = F.zip_with(
        gh,
        F.sequence(F.lit(1), n_g),
        lambda h, p: F.shiftleft(h.bitwiseAND(mask43), _EXSUB_KPOS_BITS)
        + p.cast("long"),
    )
    # kpos must fit its field (same discipline as packed_key): raise,
    # never alias, on docs past the 2^20-token pre-filter cap
    packed = F.when(n_g < F.lit(1 << _EXSUB_KPOS_BITS), packed).otherwise(
        F.raise_error(
            F.concat(
                F.lit("exactsubstr pre-filter: doc exceeds 2^20 tokens: doc_id="),
                F.col("doc_id").cast("string"),
            )
        )
    )
    df = df.select("doc_id", "_n", packed.alias("_m1"))
    # rolling min over w via the same per-level projections: double to
    # the largest power P <= w, then one overlapped least() to reach w
    n_w = n_g - w + 1
    p2 = 1
    while p2 * 2 <= w:
        ln = (n_g) - 2 * p2 + 1
        df = df.select(
            "doc_id",
            "_n",
            F.zip_with(
                F.slice(F.col(f"_m{p2}"), 1, ln),
                F.slice(F.col(f"_m{p2}"), p2 + 1, ln),
                lambda a, b: F.least(a, b),
            ).alias(f"_m{2 * p2}"),
        )
        p2 *= 2
    mins = F.col(f"_m{p2}")
    if p2 < w:
        mins = F.zip_with(
            F.slice(mins, 1, n_w),
            F.slice(mins, w - p2 + 1, n_w),
            lambda a, b: F.least(a, b),
        )
    sel = F.array_distinct(mins)
    return (
        df.select("doc_id", F.explode(sel).alias("_sel"))
        .select("doc_id", F.shiftright(F.col("_sel"), _EXSUB_KPOS_BITS).alias("_h"))
        # feeds the dup-count agg AND the join-back (the two-consumer
        # localCheckpoint rule)
        .localCheckpoint(eager=False)
    )


def _exsub_occurrences(docs: DataFrame, win: int) -> DataFrame:
    """(whash, occ_key): one row per sliding L-window — 16 bytes.

    occ_key packs (doc_id, 1-based pos) into one long (doc_id << 20 |
    pos) so "globally first occurrence" is a plain min both engines
    compute identically AND the row needs no separate doc_id/pos
    columns (consumers unpack via _occ_doc/_occ_pos — shipping them
    too was ~40% extra bytes on the family's dominant shuffle). Only
    8-byte hashes and keys are ever shuffled, never window text.

    Plan note: positions explode FIRST and the window hash is a
    top-level expression over (toks, pos) — lambda HOFs are interpreted
    per element (SCALE.md perf rule), and hashing inside transform()
    measured 4x slower than this form, where slice+join+md5 compile
    into the Generate's WholeStageCodegen. The token array rides the
    Generate only inside that fused stage; the projection drops it
    before anything materializes."""
    toks = tokens_col("text")
    base = docs.select("doc_id", toks.alias("_toks")).where(F.size(toks) >= win)
    pos = base.select(
        "doc_id",
        "_toks",
        F.explode(F.sequence(F.lit(1), F.size("_toks") - win + 1)).alias("pos"),
    )
    whash = portable_hash64(
        F.array_join(F.slice(F.col("_toks"), F.col("pos"), win), "\x01"),
        seed=F.lit("xsub"),
    )
    return (
        pos.select(
            whash.alias("whash"),
            packed_key(F.col("doc_id"), F.col("pos"), OCC_POS_BITS, "exactsubstr").alias(
                "occ_key"
            ),
        )
        # feeds the firsts agg AND the join-back: materialize the
        # window explode once (the staged-index localCheckpoint rule)
        .localCheckpoint(eager=False)
    )


def _occ_doc(key: Column) -> Column:
    return F.shiftright(key, OCC_POS_BITS)


def _occ_pos(key: Column) -> Column:
    return key.bitwiseAND(F.lit((1 << OCC_POS_BITS) - 1)).cast("int")


def _occ_unpack(occ: DataFrame) -> DataFrame:
    """(doc_id, pos) back out of occ_key — free bit ops, no join."""
    return occ.select(
        _occ_doc(F.col("occ_key")).alias("doc_id"),
        _occ_pos(F.col("occ_key")).alias("pos"),
    )


def _exsub_islands(occ_dup: DataFrame, win: int) -> DataFrame:
    """Merge overlapping/adjacent dup-window positions into maximal
    token spans per doc. Windows [p, p+win-1] and [q, q+win-1] (p < q)
    overlap or touch iff q - p <= win, so a new island starts when the
    gap exceeds win. Returns (doc_id, span_start, span_end, n_windows)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > win, 1).otherwise(0)
    return (
        occ_dup.withColumn("_brk", brk)
        .withColumn("_isl", F.sum("_brk").over(w))
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + win - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_isl")
    )


def exactsubstr_spans(
    docs: DataFrame, win: int = EXSUB_WIN, prefilter: bool | None = None
) -> DataFrame:
    """Map of ALL duplicated >= win-token content: every occurrence of
    every duplicated window (including the kept first one), merged into
    maximal spans. (doc_id, span_start, span_end, span_tokens,
    n_windows) in 1-based token indices.

    prefilter=True runs the winnowing candidate pass first:
    non-candidate docs provably contain no duplicated window, so the
    sliding explode + hash shuffle pays only for the candidate
    fraction. prefilter=False is the brute path the differential test
    pins equivalence against; the default (None) auto-engages at
    win >= EXSUB_PREFILTER_MIN_WIN, where the measured trade wins."""
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # window hashing is per-row CPU (r14 sweep)
    if _exsub_prefilter_on(prefilter, win):
        docs = docs.join(_exsub_candidates(docs, win), "doc_id")
    occ = _exsub_occurrences(docs, win)
    dup = (
        occ.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
    )
    return _exsub_islands(_occ_unpack(occ.join(dup, "whash")), win).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        "n_windows",
    )


def exactsubstr_dedup(
    docs: DataFrame, win: int = EXSUB_WIN, prefilter: bool | None = None
) -> DataFrame:
    """Cut every duplicated >= win-token span except its globally first
    occurrence (min (doc_id, pos)), the paper's keep-one policy.
    Returns every doc: (doc_id, n_tokens, n_removed, clean_text), where
    clean_text is the surviving tokens rejoined with single spaces
    (whitespace-normalized, lowercased — the token domain all the dedup
    operators share). In pathological self-overlapping repeats (period
    < win) the cut can clip into the tail of the kept occurrence; both
    engines apply the same greedy rule, and the paper accepts the same
    approximation.

    With the pre-filter on (default: auto at win >=
    EXSUB_PREFILTER_MIN_WIN) the occurrence explode runs only on
    winnowing candidates (every doc holding a duplicated window is a
    candidate — see _exsub_candidates); the cut tail still runs over
    ALL docs, so non-candidates come back verbatim with n_removed=0,
    exactly as the brute path returns them."""
    from databus_spark.plans.hints import widen_scan

    docs = widen_scan(docs)  # window hashing + HOF cut are per-row CPU
    occ_docs = (
        docs.join(_exsub_candidates(docs, win), "doc_id")
        if _exsub_prefilter_on(prefilter, win)
        else docs
    )
    occ = _exsub_occurrences(occ_docs, win)
    firsts = (
        occ.groupBy("whash")
        .agg(F.min("occ_key").alias("first_key"), F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
    )
    removable = _occ_unpack(
        occ.join(firsts, "whash").where(F.col("occ_key") != F.col("first_key"))
    )
    return _exsub_cut(docs, removable, win)


EXSUB_BROADCAST_CUTS_CAP = 1_000_000  # docs; cuts has at most one row
# per doc (doc_id + span-struct array, ~100 B typical), so gating on a
# cheap docs count bounds the broadcast at ~100 MB however
# duplicate-heavy the corpus turns out to be.


def _exsub_cut(
    docs: DataFrame,
    removable: DataFrame,
    win: int,
    broadcast_cuts: bool | None = None,
) -> DataFrame:
    """Shared cut tail: merge removable window positions into spans,
    aggregate to a small per-doc array, and drop covered tokens with a
    positional HOF filter — never a token explode."""
    cuts = (
        _exsub_islands(removable, win)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_cuts")
        )
    )
    toks = tokens_col("text")
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_cuts"),
            lambda s: (s["span_start"] <= i + 1) & (i + 1 <= s["span_end"]),
        ),
    )
    # SIZE-GATED broadcast: statically the cuts side has unknown size,
    # so the planner picks sort-merge — and even though AQE converts to
    # broadcast at runtime, its materialize-then-replan has ALREADY
    # WRITTEN the corpus side's exchange by then (measured 342 MB of
    # the x100 soak's shuffle — the tokenized corpus itself). But cuts
    # is one row per doc-with-removable-spans, which on duplicate-heavy
    # corpora is ~EVERY doc (the x100 rotation soak measured ~99% of
    # windows removable) — an unconditional hint would be a corpus-
    # proportional broadcast (r10 ADVICE #1). TWO-STAGE gate:
    # (1) cuts' STRUCTURAL ceiling is one row per doc, so a cheap
    #     docs.count() under the cap proves broadcast safe WITHOUT
    #     materializing anything — the plan stays fully lazy/fused
    #     (an earlier measure-the-cuts design serialized the
    #     exactsubstr leg ahead of composite consumers' fused final
    #     job: curation_decisions_v3 regressed +1.7 s);
    # (2) above the ceiling (corpus scale), MEASURE the real cuts
    #     count (rides the localCheckpoint job via Observation; blocks
    #     feed the join either way) — a low-dup 100 TB corpus still
    #     earns its broadcast, a dup-saturated one falls back to
    #     sort-merge instead of a corpus-sized HashedRelation. The
    #     materialization there is amortized against a corpus-scale
    #     job, exactly where it is affordable.
    if broadcast_cuts is None:
        if docs.count() <= EXSUB_BROADCAST_CUTS_CAP:
            broadcast_cuts = True
        else:
            from databus_spark.plans.hints import measure_under_cap

            cuts, broadcast_cuts = measure_under_cap(
                cuts, EXSUB_BROADCAST_CUTS_CAP
            )
    cuts = F.broadcast(cuts) if broadcast_cuts else cuts.hint("merge")
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .join(cuts, "doc_id", "left")
        .withColumn("_cuts", F.coalesce(F.col("_cuts"), empty))
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def exactsubstr_base_hashes(base: DataFrame, win: int = EXSUB_WIN) -> DataFrame:
    """Distinct window hashes of the base corpus — the
    materialize-at-ingest artifact the incremental check probes
    (append-only per ingested batch at production scale, like the
    banded-LSH base index)."""
    return _exsub_occurrences(base, win).select("whash").distinct()


def exactsubstr_base_khashes(base: DataFrame, win: int = EXSUB_WIN) -> DataFrame:
    """Distinct winnowing-selected k-gram hashes of the base corpus —
    the pre-filter twin of the whash index, staged alongside it. An
    incoming doc sharing NO selected k-hash with the base provably
    shares no >= win-token window with it (the winnowing guarantee),
    so only k-hash-matching incoming docs pay the window explode."""
    return _exsub_selected(base, win).select("_h").distinct()


def exactsubstr_incremental(
    incoming: DataFrame,
    base: DataFrame,
    win: int = EXSUB_WIN,
    base_hashes: DataFrame | None = None,
    base_khashes: DataFrame | None = None,
    prefilter: bool | None = None,
) -> DataFrame:
    """Rolling-ingestion ExactSubstr: every >= win-token span of an
    incoming doc ALREADY PRESENT in the base corpus is cut (base always
    wins — no first-occurrence contest, the incremental complement of
    exactsubstr_dedup). The base is never re-hashed when ``base_hashes``
    is passed (the staged index); the delta probe is one equi-join on
    the 8-byte window hash. Incoming docs dedup only against the base
    here — in-batch duplicates are exactsubstr_dedup's job on the
    admitted survivors. With the pre-filter on (default: auto at
    win >= EXSUB_PREFILTER_MIN_WIN), incoming docs are first screened
    against the base's selected-k-hash index (staged next to the whash
    index); only matching docs explode windows — the cut still returns
    EVERY incoming doc."""
    if base_hashes is None:
        base_hashes = exactsubstr_base_hashes(base, win)
    probe = incoming
    if _exsub_prefilter_on(prefilter, win):
        if base_khashes is None:
            base_khashes = exactsubstr_base_khashes(base, win)
        cand = (
            _exsub_selected(incoming, win)
            .join(base_khashes, "_h")
            .select("doc_id")
            .distinct()
        )
        probe = incoming.join(cand, "doc_id")
    removable = _occ_unpack(_exsub_occurrences(probe, win).join(base_hashes, "whash"))
    return _exsub_cut(incoming, removable, win)


def exactsubstr_stats(docs: DataFrame, win: int = EXSUB_WIN) -> DataFrame:
    """Corpus rollup of the dedup: per source, how much of the token
    mass is cut as duplicated. removed_frac uses the bigint micro-unit
    floor-division (scaled numerator div total, THEN one IEEE divide) so
    both engines round identically."""
    per_doc = exactsubstr_dedup(docs, win).select("doc_id", "n_tokens", "n_removed")
    return (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_removed").alias("removed_tokens"),
        )
        .withColumn(
            "removed_frac",
            (
                F.expr("removed_tokens * 1000000 div total_tokens").cast("double")
                / 1000000.0
            ),
        )
    )


def _exsub_occ_sql(from_sql: str, win: int) -> str:
    whash = portable_hash64_sql(
        f"array_to_string(toks[pos:pos+{win}-1], chr(1))", "'xsub'"
    )
    return f"""
        base AS (
            SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks
            FROM ({from_sql})
        ),
        occ AS (
            SELECT doc_id, pos, {whash} AS whash,
                   {packed_key_sql("doc_id", "pos", OCC_POS_BITS, "exactsubstr")} AS occ_key
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {win} + 2)) AS pos
                FROM base WHERE len(toks) >= {win}
            )
        )
    """


def _exsub_islands_sql(occ_dup_sql: str, win: int) -> str:
    """gaps-and-islands over (doc_id, pos) rows -> spans CTE chain."""
    return f"""
        marks AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             > {win} THEN 1 ELSE 0 END AS brk
            FROM ({occ_dup_sql})
        ),
        isl AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM marks
        ),
        spans AS (
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + {win} - 1 AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM isl GROUP BY doc_id, g
        )
    """


def exactsubstr_spans_sql(from_sql: str, win: int = EXSUB_WIN) -> str:
    occ = _exsub_occ_sql(from_sql, win)
    islands = _exsub_islands_sql(
        "SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (whash)", win
    )
    return f"""
        WITH {occ},
        dup AS (SELECT whash FROM occ GROUP BY 1 HAVING count(*) >= 2),
        {islands}
        SELECT doc_id, span_start, span_end,
               span_end - span_start + 1 AS span_tokens, n_windows
        FROM spans
    """


def _exsub_cut_sql(removable_sql: str, win: int) -> str:
    """The cut chain (islands -> covered -> token unnest -> kept ->
    clean) over an existing `base(doc_id, toks)` CTE and a removable
    (doc_id, pos) SELECT — shared by the in-corpus and incremental
    oracles."""
    islands = _exsub_islands_sql(removable_sql, win)
    return f"""
        {islands},
        covered AS (
            SELECT DISTINCT doc_id, unnest(range(span_start, span_end + 1)) AS pos
            FROM spans
        ),
        toku AS (
            SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
            FROM base
        ),
        keptu AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM toku t LEFT JOIN covered c
              ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.pos IS NULL
        ),
        clean AS (
            SELECT b.doc_id,
                   CAST(len(b.toks) AS BIGINT) AS n_tokens,
                   CAST(len(b.toks) - count(k.pos) AS BIGINT) AS n_removed,
                   coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
            FROM base b LEFT JOIN keptu k USING (doc_id)
            GROUP BY b.doc_id, b.toks
        )
    """


def _exsub_clean_ctes(from_sql: str, win: int) -> str:
    """CTE chain ending in per-doc (doc_id, n_tokens, n_removed,
    clean_text) as `clean` — shared by the dedup and stats oracles."""
    occ = _exsub_occ_sql(from_sql, win)
    cut = _exsub_cut_sql(
        """SELECT o.doc_id, o.pos FROM occ o JOIN firsts f USING (whash)
           WHERE o.occ_key <> f.first_key""",
        win,
    )
    return f"""
        {occ},
        firsts AS (
            SELECT whash, min(occ_key) AS first_key
            FROM occ GROUP BY 1 HAVING count(*) >= 2
        ),
        {cut}
    """


def exactsubstr_incremental_sql(
    incoming_from_sql: str, base_from_sql: str, win: int = EXSUB_WIN
) -> str:
    whash = portable_hash64_sql(
        f"array_to_string(toks[pos:pos+{win}-1], chr(1))", "'xsub'"
    )
    occ = _exsub_occ_sql(incoming_from_sql, win)
    cut = _exsub_cut_sql(
        "SELECT o.doc_id, o.pos FROM occ o JOIN bocc USING (whash)", win
    )
    return f"""
        WITH {occ},
        bbase AS (
            SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks
            FROM ({base_from_sql})
        ),
        bocc AS (
            SELECT DISTINCT {whash} AS whash
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {win} + 2)) AS pos
                FROM bbase WHERE len(toks) >= {win}
            )
        ),
        {cut}
        SELECT doc_id, n_tokens, n_removed, clean_text FROM clean
    """


def exactsubstr_dedup_sql(from_sql: str, win: int = EXSUB_WIN) -> str:
    return f"""
        WITH {_exsub_clean_ctes(from_sql, win)}
        SELECT doc_id, n_tokens, n_removed, clean_text FROM clean
    """


def exactsubstr_stats_sql(from_sql: str, win: int = EXSUB_WIN) -> str:
    return f"""
        WITH {_exsub_clean_ctes(from_sql, win)}
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(c.n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(c.n_removed) AS BIGINT) AS removed_tokens,
               CAST((CAST(sum(c.n_removed) AS BIGINT) * 1000000)
                    // CAST(sum(c.n_tokens) AS BIGINT) AS DOUBLE) / 1000000.0
                   AS removed_frac
        FROM clean c JOIN ({from_sql}) d USING (doc_id)
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# 12. Sketch self-evaluation: measured precision/recall of MinHash-LSH
# ---------------------------------------------------------------------------
# Pipeline observability for the dedup family: score the sketch pipeline
# (banded MinHash-LSH candidates + signature-estimate threshold) against
# the exact inverted-index Jaccard scorer on the SAME corpus and
# threshold, and emit one confusion-matrix row with integer-exact
# precision/recall/F1 in micro-units. This is the measurement a 100 TB
# deployment runs on a sample slice before trusting sketch parameters
# (N_HASHES/N_BANDS) at full scale — here it is a first-class operator
# with an oracle, not a notebook ritual.
#
# "Truth" is the exact-Jaccard pair set computable at scale: pairs
# sharing >= 1 rare shingle (the MAX_SHINGLE_DF cap applies to BOTH
# sides' candidate generation, so the comparison isolates the SKETCH
# error — banding misses + estimator bias — from the shared blocking).

def sketch_eval(
    docs: DataFrame, k: int = 5, threshold: float = 0.5
) -> DataFrame:
    """One row: (tp, fp, fn, precision_micro, recall_micro, f1_micro)
    of minhash_lsh_pairs vs exact ngram_jaccard_pairs at the same
    shingle size and threshold."""
    truth = ngram_jaccard_pairs(docs, k, threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("_t")
    )
    pred = minhash_lsh_pairs(docs, k, threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("_p")
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full")
    agg = j.agg(
        F.sum((F.col("_t").isNotNull() & F.col("_p").isNotNull()).cast("long")).alias("tp"),
        F.sum((F.col("_t").isNull() & F.col("_p").isNotNull()).cast("long")).alias("fp"),
        F.sum((F.col("_t").isNotNull() & F.col("_p").isNull()).cast("long")).alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.expr("1000000 * tp div greatest(tp + fp, 1)").alias("precision_micro"),
        F.expr("1000000 * tp div greatest(tp + fn, 1)").alias("recall_micro"),
        F.expr("2000000 * tp div greatest(2 * tp + fp + fn, 1)").alias("f1_micro"),
    )


def sketch_eval_sql(k: int = 5, threshold: float = 0.5) -> str:
    return f"""
        WITH truth AS ({ngram_jaccard_sql(k, threshold)}),
        pred AS ({minhash_lsh_sql(k, threshold)}),
        conf AS (
            SELECT
                CASE WHEN t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL
                     THEN 1 ELSE 0 END AS is_tp,
                CASE WHEN t.doc_a IS NULL AND p.doc_a IS NOT NULL
                     THEN 1 ELSE 0 END AS is_fp,
                CASE WHEN t.doc_a IS NOT NULL AND p.doc_a IS NULL
                     THEN 1 ELSE 0 END AS is_fn
            FROM truth t
            FULL JOIN pred p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
        ),
        agg AS (
            SELECT CAST(sum(is_tp) AS BIGINT) AS tp,
                   CAST(sum(is_fp) AS BIGINT) AS fp,
                   CAST(sum(is_fn) AS BIGINT) AS fn
            FROM conf
        )
        SELECT tp, fp, fn,
               CAST(1000000 * tp // greatest(tp + fp, 1) AS BIGINT)
                   AS precision_micro,
               CAST(1000000 * tp // greatest(tp + fn, 1) AS BIGINT)
                   AS recall_micro,
               CAST(2000000 * tp // greatest(2 * tp + fp + fn, 1) AS BIGINT)
                   AS f1_micro
        FROM agg
    """
